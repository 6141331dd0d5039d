"""One registry for derived state.

Everything the engine derives from table files and keeps across
queries (BM25 index handles, near-dup indexes, quantized code tables,
NN graphs, trained SQ bounds, corpus row counts, the joined and
bucketed tables, base-table plans) is an entry keyed on
(session, family, source table paths, variant).

* Stamp: an entry records the fingerprint of every table it was built
  from (``source_fingerprint``).
* Staleness is decided at resolve time: a stamp that no longer matches
  the files releases the entry's frames and rebuilds it, once. Entries
  built from tables that were not written survive, whoever wrote and
  however (crud, a plain parquet append, files replaced in place).
* Streaming appenders advance an entry in O(batch) and re-stamp it
  (``advance``), so their own write does not count as staleness.

crud calls ``release(table_dir)`` after each write to free the written
table's frames early; a streaming sink ``hold``s its table across its
own write, so the entries it advances next survive that hook.
``release`` never waits on an entry: one busy in a build or an append
is marked stale and dropped by its next resolve.

Locking: the registry lock guards the entry dict only (microseconds);
each entry's lock serializes its build, its appends and whatever the
caller runs on it, so a long build of one index never blocks queries
on another.
"""

from __future__ import annotations

import contextlib
import os
import threading
from collections import Counter
from collections.abc import Mapping

from weaviate_spark.cache import session_key

_lock = threading.RLock()
_entries: dict[tuple, "_Entry"] = {}
_held = threading.local()
# (family, paths, variant) -> builds so far, all sessions
builds: Counter = Counter()


class _Entry:
    __slots__ = ("stamp", "value", "lock", "stale")

    def __init__(self):
        self.stamp = None  # None: not built, or released
        self.value = None
        self.lock = threading.RLock()
        self.stale = False  # released while busy: drop at next use


def table_path(sf_dir, name) -> str:
    return os.path.abspath(f"{sf_dir}/{name}.parquet")


def source_fingerprint(path: str) -> str | None:
    """Sum of st_mtime_ns + st_size over the table's files; None when
    the path does not exist (an in-memory corpus: never stale)."""
    try:
        if os.path.isdir(path):
            stats = [os.stat(os.path.join(path, f)) for f in sorted(os.listdir(path))]
        else:
            stats = [os.stat(path)]
    except FileNotFoundError:
        # absent, or swapped away by a concurrent crud write mid-listing
        return None
    return str(sum(s.st_mtime_ns + s.st_size for s in stats))


def stamp(paths) -> tuple:
    return tuple(source_fingerprint(p) for p in paths)


def _release(value) -> None:
    if isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
    elif getattr(value, "is_cached", False):
        try:
            value.unpersist()
        except Exception:
            pass  # session already stopped: nothing left to free
    elif hasattr(value, "release"):
        value.release()


def _drop(e: _Entry) -> None:
    """Release an entry's value (caller holds its lock)."""
    _release(e.value)
    e.value, e.stamp, e.stale = None, None, False


def resolve(spark, family: str, paths: tuple, variant: tuple, build, use=None):
    """The value of entry (session, family, paths, variant): built on
    first use, and built again when its stamp no longer matches the
    files. ``use(value)``, when given, runs under the entry's lock and
    its result is returned instead (an index merging pending appends)."""
    key = (session_key(spark), family, paths, variant)
    with _lock:
        e = _entries.get(key)
        if e is None:
            e = _entries[key] = _Entry()
    with e.lock:
        now = stamp(paths)
        if e.stale or (e.stamp is not None and e.stamp != now):
            _drop(e)
        if e.stamp is None:
            e.value = build()
            e.stamp = now
            with _lock:
                builds[family, paths, variant] += 1
        return e.value if use is None else use(e.value)


def advance(spark, family: str, paths: tuple, prefix: tuple, fn,
            before: tuple) -> int:
    """Run ``fn(value, variant)``, an O(batch) append, on every built
    entry of ``family`` over ``paths`` whose variant starts with
    ``prefix``, and re-stamp it to the files as they are now. ``before``
    is the stamp taken before the caller's own write; an entry stamped
    otherwise was stale already and is released instead. Returns the
    number of entries advanced."""
    head = (session_key(spark), family, paths)
    with _lock:
        targets = [(k[3], e) for k, e in _entries.items()
                   if k[:3] == head and k[3][:len(prefix)] == prefix]
    now = stamp(paths)
    n = 0
    for variant, e in targets:
        with e.lock:
            if e.stamp is None:
                continue
            if e.stale or e.stamp != before:
                _drop(e)
                continue
            fn(e.value, variant)
            e.stamp = now
            n += 1
    return n


def release(path: str, family: str | None = None) -> None:
    """Release the entries built from ``path`` (of one family, or all),
    unless this thread ``hold``s it. Never waits on an entry lock, so a
    caller may hold a lock a build waits on (bm25 compaction holds the
    artifact lock): a busy entry is only marked stale."""
    path = os.path.abspath(path)
    if path in getattr(_held, "paths", ()):
        return
    with _lock:
        victims = [e for k, e in _entries.items()
                   if path in k[2] and family in (None, k[1])]
    for e in victims:
        e.stale = True
        if e.lock.acquire(blocking=False):
            try:
                if e.stale:  # else a resolve rebuilt it meanwhile
                    _drop(e)
            finally:
                e.lock.release()


@contextlib.contextmanager
def hold(path: str):
    """Keep ``release`` off ``path`` for this thread inside the block: a
    streaming sink advances and re-stamps the entries built from its
    table right after its own write."""
    prev = getattr(_held, "paths", frozenset())
    _held.paths = prev | {os.path.abspath(path)}
    try:
        yield
    finally:
        _held.paths = prev


def clear() -> None:
    """Release every entry of every session."""
    with _lock:
        victims = list(_entries.values())
        _entries.clear()
    for e in victims:
        with e.lock:
            _drop(e)


class View(Mapping):
    """Live read-only view of one family's built entries, all sessions:
    (paths, variant) -> value."""

    def __init__(self, family: str):
        self.family = family

    def _built(self) -> dict:
        with _lock:
            return {(k[2], k[3]): e.value for k, e in _entries.items()
                    if k[1] == self.family and e.stamp is not None
                    and not e.stale}

    def __getitem__(self, key):
        return self._built()[key]

    def __iter__(self):
        return iter(self._built())

    def __len__(self) -> int:
        return len(self._built())
