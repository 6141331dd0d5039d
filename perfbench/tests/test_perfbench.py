"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import stats  # noqa: E402
import steady  # noqa: E402
import workloads as W  # noqa: E402
from oracle import rows_match  # noqa: E402
from tracing import Tracer  # noqa: E402


def _take(stream, n):
    return list(itertools.islice(stream, n))


# -- seeded operation streams ----------------------------------------------

def test_search_stream_same_seed_same_ops():
    assert _take(W.search_stream(7), 30) == _take(W.search_stream(7), 30)


def test_search_stream_other_seed_other_ops():
    assert _take(W.search_stream(7), 30) != _take(W.search_stream(8), 30)


def test_search_rounds_keep_the_mix():
    for rnd in _take(W.search_stream(3), 10):
        kinds = [op["kind"] for op in rnd]
        assert {k: kinds.count(k) for k in kinds} == W.SEARCH_ROUND


def test_ingest_stream_same_seed_same_ops():
    a = _take(W.ingest_stream(5, 5000, 2000), 3)
    b = _take(W.ingest_stream(5, 5000, 2000), 3)
    assert a == b
    assert a != _take(W.ingest_stream(6, 5000, 2000), 3)


def test_ingest_batches_are_new_and_updated_ids():
    cycles = _take(W.ingest_stream(1, 5000, 2000), 2)
    ids0 = cycles[0][0]["batch"]["ids"]
    ids1 = cycles[1][0]["batch"]["ids"]
    assert ids0[:W.BATCH_NEW] == list(range(5000, 5000 + W.BATCH_NEW))
    assert ids1[:W.BATCH_NEW] == list(range(5000 + W.BATCH_NEW,
                                             5000 + 2 * W.BATCH_NEW))
    assert all(i < 2000 for i in ids0[W.BATCH_NEW:])
    # the fresh keyword read expects exactly the written batch
    fresh_bm25 = cycles[0][2]
    assert fresh_bm25["expect_ids"] == sorted(ids0)
    assert all(t.startswith(cycles[0][0]["batch"]["marker"] + " ")
               for t in cycles[0][0]["batch"]["texts"])


def test_ingest_cycle_ends_with_a_corpus_pass_per_module():
    cycle = _take(W.ingest_stream(1, 5000, 2000), 1)[0]
    tail = cycle[-len(W.PIPELINE):]
    assert all(op["kind"] == "pipeline" for op in tail)
    assert {op["module"] for op in tail} == {
        "textstats", "dedup", "rerank", "classification_job"}
    from weaviate_spark.entry_queries import ORACLES, QUERIES

    assert all(op["query"] in QUERIES and op["query"] in ORACLES
               for op in tail)


# -- traced run --------------------------------------------------------------

def test_tracing_alternates_positions_between_units():
    import argparse

    import run

    args = argparse.Namespace(workload="ingest_mix", trace=1)
    r = run.Run.__new__(run.Run)
    r.args, r.trace, r.tracer = args, True, Tracer()
    n = len(_take(W.ingest_stream(1, 5000, 2000), 1)[0])
    for j in range(n):
        # each position is traced in exactly one of two consecutive units
        assert r.traced(0, j) != r.traced(1, j)
    assert sum(r.traced(0, j) for j in range(n)) == n // 2


# -- percentile rule ---------------------------------------------------------

def test_p90_needs_ten_samples_beyond():
    assert stats.min_samples(0.9) == 100
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(99)), 0.9)
    values = [float(i) for i in range(100)]
    p90 = stats.percentile(values, 0.9)
    assert sum(v > p90 for v in values) == 10


def test_mix_median_keeps_the_mix_and_drops_outliers():
    assert stats.mix_median({"a": [1.0, 1.0, 9.0], "b": [4.0]}) == 7.0 / 4
    assert stats.mix_median({"a": [2.0], "b": [4.0, 6.0]}) == 12.0 / 3


def test_percentile_rule_scales_with_quantile():
    assert stats.min_samples(0.5) == 20
    assert stats.min_samples(0.99) == 1000
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([1.0] * 19, 0.5)
    assert stats.percentile([1.0] * 20, 0.5) == 1.0


# -- failure and wrong-result counting ---------------------------------------

def test_failures_count_against_attempts_and_add_no_latency():
    log = stats.OpLog()
    log.ok("bm25", 0.5)
    log.ok("bm25", 0.7)
    log.fail("bm25", "boom")
    log.fail("hybrid", "wrong result")
    assert (log.attempted, log.failed) == (4, 2)
    assert log.failed_frac == 0.5
    assert log.latencies == {"bm25": [0.5, 0.7]}
    assert len(log.errors) == 2


class _FakeOracle:
    def __init__(self, rows):
        self._rows = rows

    def bm25(self, op):
        return self._rows

    def vector(self, op):
        return self._rows


def test_wrong_result_is_reported():
    op = {"kind": "bm25", "query": "spark", "limit": 2}
    right = [(3, 1.25), (7, 1.0)]
    assert W.check(_FakeOracle(right), op, right) is None
    assert W.check(_FakeOracle(right), op, [(7, 1.0), (3, 1.25)]) is not None
    assert W.check(_FakeOracle(right), op, [(3, 1.25)]) is not None
    assert W.check(_FakeOracle(right), op, [(3, 1.3), (7, 1.0)]) is not None


def test_write_visibility_checks():
    batch = [(10, 2.0), (11, 1.5)]
    op = {"kind": "bm25", "query": "fresh0", "limit": 5, "expect_ids": [10, 11]}
    assert W.check(_FakeOracle(batch), op, batch) is None
    assert "not visible" in W.check(_FakeOracle(batch[:1]), op, batch[:1])
    vop = {"kind": "vector", "vector": [0.0], "limit": 2, "expect_top": 11}
    assert "nearest" in W.check(_FakeOracle(batch), vop, batch)


def test_rows_match_tolerance_and_order():
    assert rows_match([(1, 0.1234561)], [(1, 0.1234569)])
    assert not rows_match([(1, 0.12345)], [(1, 0.12355)])
    assert rows_match([("a", 1), ("b", 2)], [("b", 2), ("a", 1)], ordered=False)
    assert not rows_match([("a", 1), ("b", 2)], [("b", 2), ("a", 1)])
    assert not rows_match([(1, None)], [(1, 0.0)])


# -- steadiness mode -------------------------------------------------------

def _result(v):
    return {"correct": True, "attempted": 10, "failed": 0,
            "metrics": {"setup_s": {"value": 30.0 + v, "unit": "s"},
                        "op_p50_s": {"value": v, "unit": "s"}}}


SPEC = {"end_to_end": [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.1}]}


def test_steadiness_reports_spread_against_bound():
    values = [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0]
    reps = [{"report": {"op_latencies": [v] * 11}} for v in values]
    out = steady.summarize(SPEC, [_result(v) for v in values], reps)
    m = out["metrics"]["op_p50_s"]
    assert m["spread"] == pytest.approx(stats.spread(values))
    assert m["within_bound"] and m["steady"]
    assert out["metrics"]["setup_s"]["within_bound"]
    assert out["pooled_ops"] == 110 and out["pooled_op_p90_s"] is not None


def test_steadiness_flags_a_spread_beyond_bound():
    values = [1.0, 1.3, 0.8, 1.2, 0.9, 1.1, 0.7, 1.4, 1.0, 1.0]
    out = steady.summarize(SPEC, [_result(v) for v in values],
                           [{"report": {}}] * len(values))
    m = out["metrics"]["op_p50_s"]
    assert not m["within_bound"] and not m["steady"]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert m["spread"] == pytest.approx((q3 - q1) / statistics.median(values))


# -- tracing -----------------------------------------------------------------

def test_self_time_subtracts_children():
    t = Tracer()
    t.begin_op(1)
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    t.end_op()
    incl, self_t, calls = t.totals()
    assert calls == {"outer": 1, "inner": 2}
    assert self_t["outer"] == pytest.approx(incl["outer"] - incl["inner"])
    assert all(s.op == 1 for s in t.spans)
    outer = next(s for s in t.spans if s.name == "outer")
    assert all(s.parent == outer.sid for s in t.spans if s.name == "inner")


def test_wrap_reaches_every_import_of_a_function():
    import types

    mod = types.ModuleType("perfbench_fake_layer")

    def layer_fn(x):
        return x + 1

    mod.layer_fn = layer_fn
    user = types.ModuleType("perfbench_fake_user")
    user.renamed = layer_fn
    sys.modules[mod.__name__] = mod
    sys.modules[user.__name__] = user
    try:
        t = Tracer()
        t.wrap(mod.__name__, "layer_fn", "fake.layer")
        t.enable()
        assert user.renamed(1) == 2 and mod.layer_fn(2) == 3
        assert [s.name for s in t.spans] == ["fake.layer", "fake.layer"]
        t.disable()
        assert user.renamed is layer_fn and mod.layer_fn is layer_fn
    finally:
        del sys.modules[mod.__name__], sys.modules[user.__name__]


# -- the benchmark definition ------------------------------------------------

def test_benchmark_json_names_every_metric_once():
    import json
    import re

    import layers
    import run

    with open(os.path.join(steady.REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert max(bounds.values()) <= 0.25
    assert bounds["setup_s"] == max(bounds.values())
    assert {m["name"] for m in spec["per_layer"]} == set(layers.MOVES)


# -- CPU accounting ------------------------------------------------------------

def test_tree_cpu_counts_child_processes():
    import subprocess

    import env

    before = env.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.5: pass\n"
                              "time.sleep(30)"])
    try:
        # the child's time counts while it runs, before anyone reaps it
        for _ in range(100):
            if env.tree_cpu_s() - before >= 0.4:
                break
            time.sleep(0.05)
        assert env.tree_cpu_s() - before >= 0.4
    finally:
        child.kill()
        child.wait()
    assert env.tree_cpu_s() - before >= 0.4
