"""Regression tests for the round-4 ADVICE findings.

1. kNN top-k key packing (distance.top_k): integer micro-units
   computed once (no float round-trip truncation merging distinct tie
   buckets), sign-aware HALF_UP rounding for negative (dot) distances,
   and candidate ids of any size.
2. stateful_running_totals update(): EventTimeTimeout invocations evict
   state and emit nothing (no stale re-emits, no state leak).
3. _rq_encode_kernel: degenerate vectors (step == 0 after rotation) are
   dropped, mirroring the oracle's WHERE st > 0.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

pytestmark = pytest.mark.usefixtures("tmp_artifact_roots")


def _kernel_pdf(rows):
    return pd.DataFrame(
        {
            "_is_lab": [r[0] for r in rows],
            "_qid": [r[1] for r in rows],
            "_tid": [r[2] for r in rows],
            "_label": [r[3] for r in rows],
            "_v": [r[4] for r in rows],
        }
    )


def _top1_dot(candidates):
    """distance.top_k for one query [1.0] under metric='dot' (exact
    control of d = -(q @ l)); ties -> smallest tid. Returns (tid, 6dp d)."""
    from weaviate_spark.functions.distance import micros, top_k

    tids = np.array([t for t, _ in candidates], dtype=np.int64)
    L = np.array([[x] for _, x in candidates], dtype=np.float64)
    idx, dist = top_k(np.array([[1.0]]), L, 1, "dot", np.argsort(np.argsort(tids)))
    return tids[idx.ravel()].tolist(), (micros(dist.ravel()) / 1e6).tolist()


class TestBucketKnnKernelKeyPacking:
    def test_no_false_tie_from_float_roundtrip(self):
        # d = 249e-6 has 249e-6 * 1e6 = 248.99999999999997: the old
        # (dr * 1e6).astype(int64) truncated it to 248, falsely tying it
        # with a true 248-micro candidate and letting tid order pick the
        # farther one.
        tids, d = _top1_dot([
            (1, -249e-6),  # d = 249e-6, smaller tid
            (2, -248e-6),  # d = 248e-6 — the true nearest
        ])
        assert tids == [2]
        assert d == [248e-6]

    def test_negative_dot_rounds_half_away_from_zero(self):
        # d = -2.5e-6 must round HALF_UP (away from zero) to -3 micro,
        # matching F.round / duckdb; plain floor(d*1e6+0.5) gave -2.
        _, d = _top1_dot([(1, 2.5e-6)])
        assert d == [-3e-6]

    def test_large_ids_rank_and_key_overflow_raises(self):
        # candidate ids >= 1e9 pack as ranks, not raw ids: ties still
        # go to the smallest id, a nearer large id still wins
        from weaviate_spark.functions.distance import top_k
        from weaviate_spark.operators.rerank import _bucket_knn_kernel

        kernel = _bucket_knn_kernel(k=1, metric="dot", vector_col="_v")
        tie = kernel(_kernel_pdf([
            (1, 0, 5_000_000_000, 10, [1.0]),
            (1, 0, 3_000_000_000, 20, [1.0]),
            (0, 7, 0, 0, [1.0]),
        ]))
        assert tie["_tid"].tolist() == [3_000_000_000]
        near = kernel(_kernel_pdf([
            (1, 0, 1, 10, [1.0]),
            (1, 0, 9_000_000_000_000, 20, [2.0]),
            (0, 7, 0, 0, [1.0]),
        ]))
        assert near["_tid"].tolist() == [9_000_000_000_000]
        assert near["_d"].tolist() == [-2.0]
        # a distance whose micro units cannot pack with the rank fails
        # loudly instead of wrapping around int64
        with pytest.raises(OverflowError):
            top_k(np.array([[1e7]]), np.array([[1e7], [1.0]]), 1, "dot",
                  np.array([0, 1]))


class _FakeState:
    def __init__(self, exists=False, value=None, timed_out=False):
        self.exists = exists
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None
        self.timeout_set = None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self.updated = v

    def remove(self):
        self.removed = True

    def setTimeoutTimestamp(self, ts):
        self.timeout_set = ts

    def getCurrentWatermarkMs(self):
        return 1_000_000


class TestStatefulTimeoutEviction:
    def test_timeout_invocation_evicts_and_emits_nothing(self):
        from weaviate_spark.streaming.ingest import _make_running_totals_update

        update = _make_running_totals_update(("user_id",))
        state = _FakeState(exists=True, value=(5, 12.5), timed_out=True)
        out = list(update((42,), iter([]), state))
        assert out == []
        assert state.removed
        assert state.updated is None
        assert state.timeout_set is None

    def test_data_invocation_accumulates_and_rearms(self):
        from weaviate_spark.streaming.ingest import _make_running_totals_update

        update = _make_running_totals_update(("user_id",))
        state = _FakeState(exists=True, value=(2, 1.0))
        pdfs = iter([pd.DataFrame({"value": [2.0, 3.0]})])
        out = list(update((42,), pdfs, state))
        assert len(out) == 1
        assert out[0]["n_events"].tolist() == [4]
        assert out[0]["total_value"].tolist() == [6.0]
        assert state.updated == (4, 6.0)
        assert state.timeout_set == 1_000_001
        assert not state.removed


class TestRqDegenerateDrop:
    def test_step_zero_rows_dropped(self):
        from weaviate_spark.operators.quantization import _rq_encode_kernel

        eye = [[1.0, 0.0], [0.0, 1.0]]
        gen = _rq_encode_kernel(eye, normalize=False)
        pdf = pd.DataFrame(
            {"_id": [1, 2], "_v": [[0.0, 0.0], [1.0, 2.0]]}
        )
        frames = list(gen(iter([pdf])))
        assert len(frames) == 1
        out = frames[0]
        assert out["_id"].tolist() == [2]
        assert out["_step"].iloc[0] > 0
        codes = np.asarray(out["_codes"].iloc[0])
        assert codes.min() == 0 and codes.max() == 255

    def test_all_degenerate_batch_yields_nothing(self):
        from weaviate_spark.operators.quantization import _rq_encode_kernel

        eye = [[1.0, 0.0], [0.0, 1.0]]
        gen = _rq_encode_kernel(eye, normalize=False)
        pdf = pd.DataFrame({"_id": [1], "_v": [[3.0, 3.0]]})
        assert list(gen(iter([pdf]))) == []


class TestWritePathInvalidation:
    def test_upsert_refreshes_bm25_stats(self, spark, tmp_path):
        """A keyword query after an upsert must score against the NEW
        corpus statistics (N, df, doclen) — the reference refreshes its
        prop-length tracker on every write (shard_write_inverted.go).
        Pin it by comparing the materialized-stats path against the
        always-fresh recompute path after the write."""
        from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_search
        from weaviate_spark.sources.crud import upsert

        sf_dir = str(tmp_path)
        table = f"{sf_dir}/docs.parquet"
        spark.createDataFrame(
            [(1, "apple banana"), (2, "cherry date")], ["doc_id", "text"]
        ).write.parquet(table)
        spec = BM25Spec(
            collection="docs", query="apple",
            properties=[BM25Prop("text")], id_col="doc_id",
        )
        before = {r["doc_id"]: r["_score"]
                  for r in bm25_search(spark, sf_dir, spec).collect()}
        assert set(before) == {1}

        upsert(
            spark, table,
            spark.createDataFrame(
                [(3, "apple apple pie"), (4, "apple tart")],
                ["doc_id", "text"],
            ),
            "doc_id",
        )
        cached = {r["doc_id"]: r["_score"]
                  for r in bm25_search(spark, sf_dir, spec).collect()}
        fresh = {r["doc_id"]: r["_score"]
                 for r in bm25_search(
                     spark, sf_dir, spec, use_stats_tables=False).collect()}
        assert set(cached) == {1, 3, 4}
        assert cached == fresh  # stale N/df would shift every score
        # N went 2 -> 4 and df(apple) 1 -> 3: the idf (hence score of
        # doc 1) must actually have changed, proving stats were rebuilt
        assert cached[1] != before[1]
