"""Class-level backup / restore (SURVEY §2.1 — the last unimplemented
row; reference: usecases/backup/backupper.go, restorer.go, and the
descriptor + status lifecycle in entities/backup/descriptor.go,
entities/backup/status.go:14-26).

Reference semantics mirrored here:

* A backup is identified by a caller-chosen id; creating an existing id
  fails (usecases/backup/backupper.go:89 area rejects duplicates).
* Include/exclude class lists select what is copied.
* A JSON descriptor records the lifecycle status — STARTED ->
  TRANSFERRING -> TRANSFERRED -> SUCCESS / FAILED — persisted at every
  transition, so a crash leaves an honest, queryable state and restore
  refuses anything but SUCCESS (resolveBaseBackupChain checks
  GetStatus() == Success, backupper.go:231).
* Restore refuses to overwrite an existing class unless told to (the
  reference errors when the class already exists) and invalidates every
  derived index afterwards (a restored table is a new corpus).

Spark shape: the copy is ``spark.read.parquet -> write.parquet`` per
class — a DISTRIBUTED copy (every executor reads and writes its own
partitions in parallel; against S3/GCS/Azure roots this is the same
executor-parallel transfer the reference's backend modules do with
shard files). Fidelity is validated at the ROW level (count + schema
recorded in the descriptor, re-checked on restore) rather than by file
checksum, because a re-encoded parquet file is byte-different while the
table is identical — the unit a query engine must preserve.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional, Sequence

from pyspark.sql import SparkSession

# entities/backup/status.go:14-26
STARTED = "STARTED"
TRANSFERRING = "TRANSFERRING"
TRANSFERRED = "TRANSFERRED"
SUCCESS = "SUCCESS"
CANCELED = "CANCELED"
FAILED = "FAILED"


class BackupError(RuntimeError):
    pass


def _descriptor_path(backend_root: str, backup_id: str) -> str:
    return os.path.join(backend_root, backup_id, "backup.json")


def _write_descriptor(backend_root: str, backup_id: str, desc: dict) -> None:
    path = _descriptor_path(backend_root, backup_id)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(desc, f, indent=1)
    os.replace(tmp, path)  # atomic: readers never see a torn descriptor


def read_descriptor(backend_root: str, backup_id: str) -> dict:
    path = _descriptor_path(backend_root, backup_id)
    if not os.path.exists(path):
        raise BackupError(f"backup {backup_id!r} not found under {backend_root}")
    with open(path) as f:
        return json.load(f)


def backup_status(backend_root: str, backup_id: str) -> str:
    """The OnStatus analogue (usecases/backup/backupper.go:54)."""
    return read_descriptor(backend_root, backup_id)["status"]


def _select_collections(
    sf_dir: str,
    include: Optional[Sequence[str]],
    exclude: Optional[Sequence[str]],
) -> list[str]:
    if include:
        names = list(include)
        for n in names:
            if not os.path.exists(os.path.join(sf_dir, f"{n}.parquet")):
                raise BackupError(f"class {n!r} does not exist in {sf_dir}")
    else:
        names = sorted(
            f[: -len(".parquet")]
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
    if exclude:
        names = [n for n in names if n not in set(exclude)]
    if not names:
        raise BackupError("backup selects no classes")
    return names


def backup_create(
    spark: SparkSession,
    backup_id: str,
    sf_dir: str,
    backend_root: str,
    include: Optional[Sequence[str]] = None,
    exclude: Optional[Sequence[str]] = None,
) -> dict:
    """Create backup ``backup_id`` of the selected classes under
    ``backend_root/<id>/<class>/`` and return the final descriptor.
    Fails (and records FAILED) rather than leaving a half-trusted
    SUCCESS; an existing id is rejected up front."""
    if os.path.exists(_descriptor_path(backend_root, backup_id)):
        raise BackupError(f"backup {backup_id!r} already exists")
    names = _select_collections(sf_dir, include, exclude)
    desc: dict = {
        "id": backup_id,
        "status": STARTED,
        "startedAt": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "source": sf_dir,
        "classes": {},
    }
    _write_descriptor(backend_root, backup_id, desc)
    try:
        desc["status"] = TRANSFERRING
        _write_descriptor(backend_root, backup_id, desc)
        for name in names:
            src = os.path.join(sf_dir, f"{name}.parquet")
            dst = os.path.join(backend_root, backup_id, name)
            df = spark.read.parquet(src)
            df.write.mode("errorifexists").parquet(dst)
            desc["classes"][name] = {
                "rows": spark.read.parquet(dst).count(),
                "schema": df.schema.json(),
            }
            _write_descriptor(backend_root, backup_id, desc)
        desc["status"] = TRANSFERRED
        _write_descriptor(backend_root, backup_id, desc)
        # validation pass: what landed is what the descriptor claims
        for name, meta in desc["classes"].items():
            src_rows = spark.read.parquet(
                os.path.join(sf_dir, f"{name}.parquet")
            ).count()
            if src_rows != meta["rows"]:
                raise BackupError(
                    f"class {name!r}: {meta['rows']} rows backed up but the "
                    f"source now has {src_rows} (concurrent write?)"
                )
        desc["status"] = SUCCESS
        desc["completedAt"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        _write_descriptor(backend_root, backup_id, desc)
    except Exception as ex:
        desc["status"] = FAILED
        desc["error"] = str(ex)[:300]
        _write_descriptor(backend_root, backup_id, desc)
        raise
    return desc


def backup_restore(
    spark: SparkSession,
    backup_id: str,
    backend_root: str,
    target_sf_dir: str,
    include: Optional[Sequence[str]] = None,
    exclude: Optional[Sequence[str]] = None,
    overwrite: bool = False,
) -> dict:
    """Restore classes from ``backup_id`` into ``target_sf_dir``.
    Refuses a non-SUCCESS backup and (without ``overwrite``) any class
    that already exists at the target; validates restored row counts and
    schemas against the descriptor; invalidates every derived index
    (BM25 stats, dedup/quantized tables, bucketed registrations) since
    the restored table is a new corpus."""
    desc = read_descriptor(backend_root, backup_id)
    if desc["status"] != SUCCESS:
        raise BackupError(
            f"backup {backup_id!r} has status {desc['status']}, "
            f"expected {SUCCESS}"
        )
    names = sorted(desc["classes"])
    if include:
        missing = set(include) - set(names)
        if missing:
            raise BackupError(f"classes not in backup: {sorted(missing)}")
        names = list(include)
    if exclude:
        names = [n for n in names if n not in set(exclude)]
    if not names:
        raise BackupError("restore selects no classes")
    os.makedirs(target_sf_dir, exist_ok=True)
    for name in names:
        dst = os.path.join(target_sf_dir, f"{name}.parquet")
        if os.path.exists(dst) and not overwrite:
            raise BackupError(
                f"class {name!r} already exists at {target_sf_dir} "
                "(pass overwrite=True to replace it)"
            )
    from weaviate_spark.sources import crud

    restored = {}
    for name in names:
        src = os.path.join(backend_root, backup_id, name)
        dst = os.path.join(target_sf_dir, f"{name}.parquet")
        df = spark.read.parquet(src)

        # route through crud's staged write + swap so concurrent readers
        # never see a half-restored table, and through the OCC version
        # claim so a concurrent transact() writer whose snapshot predates
        # the restore conflicts instead of silently re-swapping
        # pre-restore data over it. Every derived index of the table is
        # stale by its file stamp (the restored table is a new corpus).
        def _do(df=df, dst=dst):
            crud._rewrite(df, dst, expected_version=crud.table_version(dst))

        crud.transact(_do)
        back = spark.read.parquet(dst)
        meta = desc["classes"][name]
        if back.count() != meta["rows"]:
            raise BackupError(f"class {name!r}: restored row count mismatch")
        if back.schema.json() != meta["schema"]:
            raise BackupError(f"class {name!r}: restored schema mismatch")
        restored[name] = meta["rows"]
    return {"id": backup_id, "status": SUCCESS, "restored": restored,
            "target": target_sf_dir}
