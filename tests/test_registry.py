"""The derived-state registry's contract without Spark: entries are
stamped with their source files, rebuilt once when a stamp goes stale,
untouched when another table changes, re-stamped by an appender that
advanced them, and built once under concurrent resolvers."""

from __future__ import annotations

import pathlib
import re
import sys
import threading
import types

import pytest

from weaviate_spark import registry


@pytest.fixture
def session():
    registry.clear()
    yield types.SimpleNamespace(sparkContext=object())
    registry.clear()


def _write(path, text):
    with open(path, "w") as fh:
        fh.write(text)


def test_stale_stamp_rebuilds_once_and_spares_other_tables(session, tmp_path):
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    _write(a, "1")
    _write(b, "1")
    built = []

    def get(path):
        return registry.resolve(session, "t", (path,), (),
                                lambda: built.append(path) or len(built))

    assert (get(a), get(b), get(a), get(b)) == (1, 2, 1, 2)
    _write(a, "22")  # out-of-band rewrite of a only
    assert (get(a), get(a), get(b)) == (3, 3, 2)
    assert built == [a, b, a]


def test_advance_restamps_only_entries_current_before_the_write(session, tmp_path):
    p = str(tmp_path / "t.parquet")
    _write(p, "1")
    paths = (p,)
    registry.resolve(session, "idx", paths, ("x",), lambda: [])
    before = registry.stamp(paths)
    _write(p, "12")  # the caller's own append
    seen = []
    n = registry.advance(session, "idx", paths, (),
                         lambda v, variant: seen.append(variant) or v.append(1),
                         before)
    assert (n, seen) == (1, [("x",)])
    # re-stamped: served without a rebuild, with the appended segment
    assert registry.resolve(session, "idx", paths, ("x",), lambda: "rebuilt") == [1]

    _write(p, "123")  # a write nobody advanced ...
    before = registry.stamp(paths)
    _write(p, "1234")  # ... then the caller's own append
    assert registry.advance(session, "idx", paths, (),
                            lambda v, variant: v.append(2), before) == 0
    assert registry.resolve(session, "idx", paths, ("x",), lambda: "rebuilt") == "rebuilt"


def test_release_skips_held_tables(session, tmp_path):
    p = str(tmp_path / "t.parquet")
    _write(p, "1")
    registry.resolve(session, "t", (p,), (), lambda: "v")
    with registry.hold(p):
        registry.release(p)
    assert dict(registry.View("t")) == {((p,), ()): "v"}
    registry.release(p)
    assert not registry.View("t")


def test_concurrent_resolvers_build_once(session, tmp_path):
    p = str(tmp_path / "t.parquet")
    _write(p, "1")
    calls = []
    lock = threading.Lock()

    def build():
        with lock:
            calls.append(1)
        return object()

    results = []
    errors = []

    def worker():
        try:
            for _ in range(200):
                results.append(registry.resolve(session, "t", (p,), (), build))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors
    assert len(calls) == 1 and len(set(map(id, results))) == 1
    assert len(results) == 16 * 200


def test_release_never_waits_on_a_busy_entry(session, tmp_path):
    """A releaser may hold a lock that a build is waiting on (bm25
    compaction holds the artifact lock): release must return at once,
    mark the busy entry stale, and its next resolve rebuilds it."""
    p = str(tmp_path / "t.parquet")
    _write(p, "1")
    other = threading.Lock()
    inside = threading.Event()

    def build():
        inside.set()
        with other:
            return "old"

    builder = threading.Thread(
        target=lambda: registry.resolve(session, "t", (p,), (), build),
        daemon=True)
    releaser = threading.Thread(target=registry.release, args=(p,), daemon=True)
    with other:
        builder.start()
        assert inside.wait(10)
        releaser.start()
        releaser.join(10)
        released = not releaser.is_alive()
    builder.join(10)
    assert released and not builder.is_alive()
    assert not registry.View("t")
    assert registry.resolve(session, "t", (p,), (), lambda: "new") == "new"


def test_no_copied_segment_store():
    """Segment append and compaction live in incremental.py only; every
    index that advances by appends (vector codes, near-dup) resolves
    and appends through it."""
    root = pathlib.Path(__file__).resolve().parents[1]
    pattern = re.compile(r"^\s*_MAX_SEGMENTS\s*=|^\s*def _compact\(")
    hits = [
        f"{path.relative_to(root)}:{no}: {line.strip()}"
        for path in sorted((root / "weaviate_spark").rglob("*.py"))
        if path.relative_to(root).as_posix() != "weaviate_spark/incremental.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, "use weaviate_spark/incremental.py instead:\n" + "\n".join(hits)
