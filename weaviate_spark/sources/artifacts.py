"""One store for the indexes the engine writes to disk.

The BM25 index tables, the BQ/SQ code tables, NN graphs, LSH bucket
tables and bucketed fact tables are all derived from one source table
and written beside it, in one layout (the reference keeps every
on-disk index under one LSM store with one layout and one compaction
policy, adapters/repos/db/lsmkv/):

    {family root}/{sf tag}/{collection}/{md5(fingerprint)[:12]}/{md5(repr(variant))[:12]}

* The fingerprint is the source table's ``registry.source_fingerprint``:
  a rewritten table is never served from an older artifact.
* An artifact dir counts only once its ``_COMMITTED`` marker exists.
  ``build`` writes the marker last, so a crash mid-write leaves an
  uncommitted dir that the next build clears and writes again.
* ``build`` first deletes the collection's superseded fingerprint dirs:
  one generation per collection and family root stays on disk.
* ``LOCK`` serializes directory mutations (build, append, rename,
  compaction) within the process. Cross-process writers are out of
  scope (single-writer deployment, like the reference's per-shard
  write path).

Family roots are module attributes of their owners
(``bm25.BM25_ARTIFACT_ROOT``, ``quantization.VECTOR_ARTIFACT_ROOT``,
``bucketed.ARTIFACT_ROOT``), read at call time and passed in, so a
caller can point a family at another directory.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import threading

from weaviate_spark import registry

# default parent of every family root: .artifacts/ in the checkout that
# holds this package
ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".artifacts")

_MARKER = "_COMMITTED"
LOCK = threading.RLock()


def fingerprint_dir(family_root: str, sf_dir: str, collection: str,
                    fp: str | None = None) -> str | None:
    """The dir of one source fingerprint of a collection: ``fp`` when
    given, else the table's current one (None when the table has no
    files to fingerprint)."""
    if fp is None:
        fp = registry.source_fingerprint(registry.table_path(sf_dir, collection))
        if fp is None:
            return None
    tag = re.sub(r"[^A-Za-z0-9]+", "_", sf_dir.strip("/"))
    return os.path.join(family_root, tag, collection,
                        hashlib.md5(fp.encode()).hexdigest()[:12])


def artifact_dir(family_root: str, sf_dir: str, collection: str,
                 variant: tuple) -> str | None:
    """The artifact dir of ``variant`` (the layout tuple hashed into the
    path) at the table's current fingerprint; None for a table without
    files. Nothing is created."""
    fp_dir = fingerprint_dir(family_root, sf_dir, collection)
    if fp_dir is None:
        return None
    return os.path.join(fp_dir, hashlib.md5(repr(variant).encode()).hexdigest()[:12])


def committed(root: str | None) -> bool:
    return root is not None and os.path.exists(os.path.join(root, _MARKER))


def mark(root: str) -> None:
    """Commit ``root``: write its marker (after everything else in it)."""
    open(os.path.join(root, _MARKER), "w").close()


def build(root: str, write):
    """Write and commit the artifact at ``root`` unless a committed copy
    is already there (checked before and again under LOCK). Deletes the
    collection's superseded fingerprint dirs and whatever an earlier
    uncommitted write left at ``root``, runs ``write(root)`` on the empty
    dir, then marks it. Returns what ``write`` returned, or None when
    the artifact was already committed."""
    if committed(root):
        return None
    with LOCK:
        if committed(root):
            return None
        fp_dir = os.path.dirname(root)
        coll_dir = os.path.dirname(fp_dir)
        if os.path.isdir(coll_dir):
            for old in os.listdir(coll_dir):
                if os.path.join(coll_dir, old) != fp_dir:
                    shutil.rmtree(os.path.join(coll_dir, old), ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        out = write(root)
        mark(root)
        return out


@contextlib.contextmanager
def uncommitted(root: str):
    """Append in place to the committed artifact at ``root``: its marker
    is absent while the body runs and written again when it returns, so
    a crash mid-append leaves an uncommitted dir that the next reader
    rebuilds instead of serving a half-written one."""
    with LOCK:
        os.remove(os.path.join(root, _MARKER))
        yield
        mark(root)
