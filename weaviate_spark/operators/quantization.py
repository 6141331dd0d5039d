"""Vector quantization: binary (BQ) and scalar (SQ) with exact rescore.

Reference semantics (adapters/repos/db/vector/flat/index.go:60-131 — the
flat index's BQ path; entities/vectorindex/compression/): vectors are
compressed at ingest; search scans the compressed column, overfetches
candidates by the cheap compressed distance, then rescores the candidate
set with the exact distance over the original vectors.

Spark shape:

* ``bq_encode``  — sign bit per dimension (x > 0), packed 32 dims per
  BIGINT word (32, not 64, so the same packing is expressible in the
  duckdb oracle without unsigned/sign-bit edge cases). Pure column
  expression — encoding is a narrow map, no shuffle.
* ``with_bq_index`` — the encoded (id, packed-words) table, served from
  a WRITTEN ingest artifact (build_bq_artifact — like the BM25 postings
  and dedup shingle/signature tables) and session-cached; the float
  vectors never live in it, so the candidate scan reads ~dim/32 longs
  per row cold or warm.
* ``bq_topk`` — hamming-distance overfetch (bit_count of xor per word —
  whole-stage-codegen integer ops, ~dim/32 instructions per row instead
  of dim float multiplies) -> TakeOrderedAndProject of the candidate
  ids -> exact-metric rescore of only those candidates -> final top-k.
  Both stages are deterministic: ties break by id, so the candidate SET
  is a pure function of the data and the oracle can mirror it.
* ``sq_encode`` / ``sq_distance`` — scalar quantization to int8 against
  fixed per-collection [min, max] bounds (the reference trains bounds on
  a sample at ingest; here callers pass them), distance over the int8
  codes; same overfetch/rescore pattern.

Scale: encode/hamming are narrow per-row expressions over the (possibly
bucketed) collection scan; the only shuffle is the top-k merge, and the
exact rescore touches overfetch*k rows, not the corpus.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from weaviate_spark.functions.distance import as_matrix, distance
from weaviate_spark.sources import artifacts
from weaviate_spark.sources.tables import load_table, source_paths

from weaviate_spark import incremental, registry
from weaviate_spark.cache import lit_double_array

BITS_PER_WORD = 32


def _n_words(dim: int) -> int:
    return (dim + BITS_PER_WORD - 1) // BITS_PER_WORD


def bq_word(vector_col: Column, word: int, dim: int) -> Column:
    """One packed word: bit j set iff vector[word*32 + j] > 0."""
    lo = word * BITS_PER_WORD
    width = min(BITS_PER_WORD, dim - lo)
    acc = F.lit(0).cast("long")
    for j in range(width):
        bit = F.when(
            F.element_at(vector_col, lo + j + 1) > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        acc = acc + bit
    return acc


def bq_encode(vector_col: Column, dim: int) -> list[Column]:
    """All packed words for a `dim`-dimensional vector column."""
    return [bq_word(vector_col, w, dim) for w in range(_n_words(dim))]


def bq_encode_py(vector: Sequence[float]) -> list[int]:
    """Driver-side encoding of the query vector (same convention)."""
    words = [0] * _n_words(len(vector))
    for i, x in enumerate(vector):
        if x > 0:
            words[i // BITS_PER_WORD] |= 1 << (i % BITS_PER_WORD)
    return words


def hamming_col(word_cols: Sequence[Column], query_words: Sequence[int]) -> Column:
    """Hamming distance between packed signatures: sum of
    bit_count(word XOR query_word)."""
    acc = F.lit(0)
    for c, qw in zip(word_cols, query_words):
        acc = acc + F.bit_count(c.bitwiseXOR(F.lit(qw).cast("long")))
    return acc


# Written BQ artifact (the flat index's compress-at-ingest analogue,
# flat/index.go:60-78, persisted like the BM25 postings tables): the
# packed sign-bit words live in a parquet table of (id, _bq0.._bqN) —
# NO float vectors — so the compressed candidate scan reads ~dim/32
# longs per row instead of a dim-float array, cold or warm. The path
# embeds a source mtime+size fingerprint (stale artifacts are never
# served; superseded ones GC at build) and a format/layout hash
# (sources/artifacts.py).
VECTOR_ARTIFACT_ROOT = os.path.join(artifacts.ROOT, "vecindex")
VEC_ARTIFACT_FORMAT = 1


def build_bq_artifact(
    spark: SparkSession,
    sf_dir: str,
    collection: str,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int | None = None,
) -> str | None:
    """Ingest-phase build of the written BQ artifact (idempotent): call
    this when a vectorized collection lands, the way BM25 stats tables
    are built on write — queries then never pay the encode, even on a
    cold session. Returns the artifact dir, or None for a source
    without a stable fingerprint (in-memory/test corpora)."""
    base = load_table(spark, sf_dir, collection)
    if dim is None:
        row = base.select(F.size(F.col(vector_col)).alias("d")).where(
            F.col(vector_col).isNotNull()).limit(1).collect()
        if not row:
            return None
        dim = int(row[0]["d"])
    return _bq_artifact_dir(base, sf_dir, collection, id_col, vector_col, dim)


def _vec_artifact_dir(
    sf_dir: str, collection: str, variant: tuple, frame_fn,
) -> str | None:
    """Resolve (building if absent) the written artifact directory for
    this (source fingerprint, encode variant) — None when the source has
    no stable files to fingerprint. ``frame_fn`` produces the code frame
    to persist; ``variant`` is the layout tuple hashed into the path."""
    root = artifacts.artifact_dir(VECTOR_ARTIFACT_ROOT, sf_dir, collection, variant)
    if root is not None:
        artifacts.build(root, lambda r: frame_fn().write.parquet(f"{r}/codes"))
    return root


def _bq_artifact_dir(
    base: DataFrame, sf_dir: str, collection: str,
    id_col: str, vector_col: str, dim: int,
) -> str | None:
    return _vec_artifact_dir(
        sf_dir, collection,
        ("bq", id_col, vector_col, dim, VEC_ARTIFACT_FORMAT),
        lambda: _bq_code_frame(base, id_col, vector_col, dim),
    )


def _bq_code_frame(
    rows: DataFrame, id_col: str, vector_col: str, dim: int
) -> DataFrame:
    """(id, _bq0.._bqN) for the non-null vectors of ``rows`` — null
    vectors have nothing to index (they would encode to all-zero codes
    and float to the top of every hamming order)."""
    return rows.where(F.col(vector_col).isNotNull()).select(
        id_col,
        *[c.alias(f"_bq{w}")
          for w, c in enumerate(bq_encode(F.col(vector_col), dim))],
    )


def _code_table(
    df: DataFrame, table_key: tuple, variant: tuple, id_col: str,
    build, encode,
) -> DataFrame:
    """The session-persisted encoded table (ingest-time artifact) of
    ``df``: an index of the segment store (weaviate_spark/
    incremental.py, registry family "vector") whose id column is
    ``id_col``, built once from ``build()``. Streaming appends land as O(batch) segments via
    append_to_vector_indexes (the async vector-index-queue analogue,
    vector_index_queue.go) and merge at the next resolve."""
    frame, _ = incremental.resolve(
        df.sparkSession, "vector", table_key, variant, id_col,
        lambda: incremental.checkpoint(build()), encode)
    return frame


def append_to_vector_indexes(batch_df: DataFrame, id_col: str,
                             table_key: tuple, before: tuple) -> int:
    """Record an append segment against EVERY quantized index (BQ/SQ/PQ/
    RQ/IVF-PQ, any dim/codebook/normalization variant) built under
    ``table_key`` — each entry re-encodes only the batch with its own
    stored encode pipeline, and is re-stamped to the table as written
    (``before``: the registry stamp taken before the batch was written).
    Replace-by-id: every ``id_col`` value of the batch evicts its
    indexed codes at compaction, also when its new vector is NULL and
    encodes to nothing. Returns the number of indexes advanced (0 =
    none built)."""
    return incremental.append("vector", table_key, batch_df, id_col, before)


def with_bq_index(
    df: DataFrame, id_col: str, vector_col: str, dim: int, table_key: tuple
) -> DataFrame:
    """(id, _bq0.._bqN) — encoded collection, served from the WRITTEN
    ingest artifact when the source has one (flat/index.go:60-78
    compresses at ingest, not per query; the session build is the
    fallback for fingerprint-less test corpora). Streaming appends
    layer on top as O(batch) segments either way."""
    def _encode(rows: DataFrame) -> DataFrame:
        return _bq_code_frame(rows, id_col, vector_col, dim)

    def _build() -> DataFrame:
        if len(table_key) == 2:
            sf_dir, collection = table_key
            root = _bq_artifact_dir(df, str(sf_dir), str(collection),
                                    id_col, vector_col, dim)
            if root is not None:
                return df.sparkSession.read.parquet(f"{root}/codes")
        return _encode(df)

    return _code_table(df, table_key, ("bq", dim), id_col, _build, _encode)


def bq_topk(
    spark: SparkSession,
    sf_dir: str,
    collection: str,
    vector: Sequence[float],
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    k: int = 10,
    overfetch: int = 4,
    metric: str = "cosine",
    round_digits: int = 6,
    table_key: tuple | None = None,
    where=None,
) -> DataFrame:
    """BQ search: hamming overfetch of `overfetch * k` candidates over the
    packed words, exact-`metric` rescore of only those candidates
    (flat/index.go:96-131 searchTimeRescore). Returns (id, _distance)
    top-k, distance asc / id asc.

    ``where`` (a filters.Clause) restricts the CANDIDATE set before the
    hamming overfetch — the reference's allowlist-first filtered vector
    search on the compressed scan: the filter prunes the cheap integer
    stage, so overfetch*k candidates all satisfy the predicate and the
    rescore budget is never wasted on filtered-out rows."""
    dim = len(vector)
    base = load_table(spark, sf_dir, collection)
    if table_key is not None:
        enc = with_bq_index(base, id_col, vector_col, dim, table_key)
    else:
        enc = _bq_code_frame(base, id_col, vector_col, dim)
    if where is not None:
        from weaviate_spark.filters import apply_where

        # allowlist-first: evaluate the predicate on the BASE table and
        # semi-join the encoded artifact on the id — the filter columns
        # never have to live in the compressed index
        allow = apply_where(base, where).select(id_col)
        enc = enc.join(allow, id_col, "left_semi")
    qwords = bq_encode_py(vector)
    word_cols = [F.col(f"_bq{w}") for w in range(_n_words(dim))]
    candidates = (
        enc.withColumn("_hamming", hamming_col(word_cols, qwords))
        .orderBy(F.col("_hamming").asc(), F.col(id_col).asc())
        .limit(overfetch * k)
    )
    # exact rescore of ONLY the candidates: collect the ≤ overfetch*k
    # candidate ids (a bounded post-stage driver step, exactly the
    # reference's searchTimeRescore list) and push them into the base
    # scan as an id IN-filter — parquet row-group/page pruning reads a
    # handful of pages of the float vectors instead of the corpus. A
    # broadcast join would skip the collect but scan every vector page.
    cand_ids = [r[0] for r in candidates.select(id_col).collect()]
    if not cand_ids:
        return base.select(
            id_col, F.lit(None).cast("double").alias("_distance")
        ).limit(0)
    qv = lit_double_array(vector)
    rescored = (
        base.where(F.col(id_col).isin(cand_ids)
                   & F.col(vector_col).isNotNull())
        .withColumn(
            "_distance",
            F.round(distance(F.col(vector_col), qv, metric), round_digits),
        )
    )
    return (
        rescored.select(id_col, "_distance")
        .orderBy(F.col("_distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# scalar quantization (int8 codes against fixed bounds)

def sq_encode(vector_col: Column, lo: float, hi: float) -> Column:
    """int8 codes: round((x - lo) / (hi - lo) * 255) clamped to [0, 255]
    (compression/scalar_quantizer — bounds trained at ingest; here they
    are caller-supplied constants)."""
    span = hi - lo
    # floor(x + 0.5), not F.round: keeps the rounding rule identical to
    # sq_encode_py (python round() is half-even, F.round half-up — codes
    # at exact .5 boundaries diverged between the two paths)
    return F.transform(
        vector_col, lambda x: F.least(
            F.greatest(F.floor((x - F.lit(lo)) / F.lit(span) * 255 + F.lit(0.5)),
                       F.lit(0).cast("long")),
            F.lit(255).cast("long"),
        ).cast("int")
    )


def sq_l2_code_distance(code_col: Column, query_codes: Sequence[int]) -> Column:
    """Squared L2 over the int8 codes (monotone proxy for candidate
    selection; exact rescore follows)."""
    q = F.array(*[F.lit(int(c)) for c in query_codes])
    return F.aggregate(
        F.zip_with(code_col, q, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )


def sq_encode_py(vector: Sequence[float], lo: float, hi: float) -> list[int]:
    import math

    span = hi - lo
    out = []
    for x in vector:
        c = math.floor((x - lo) / span * 255 + 0.5)  # half-up, same as sq_encode
        out.append(int(min(max(c, 0), 255)))
    return out


# --- packed SQ ingest artifact + candidate-scan search -----------------
#
# The SQ analogue of the BQ written artifact (flat/index.go:60-78
# compress-at-ingest; compressionhelpers/scalar_quantizer.go): int8 codes
# packed 4 per BIGINT word, persisted as (id, _sq0.._sqN) — 4x fewer
# bytes than the float vectors on the candidate scan, but (unlike BQ's
# 1-bit signs) the code distance preserves magnitude, so recall after
# the exact rescore is near-perfect at small overfetch. This is the
# recall-safe default of the two compressed scans; BQ remains the
# maximum-compression (32x) option.

SQ_CODES_PER_WORD = 4


def _sq_n_words(dim: int) -> int:
    return (dim + SQ_CODES_PER_WORD - 1) // SQ_CODES_PER_WORD


def _sq_code(x: Column, lo: float, hi: float) -> Column:
    """One int8 code as a LONG column (same half-up rule as sq_encode)."""
    span = hi - lo
    return F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(span) * 255 + F.lit(0.5)),
                   F.lit(0).cast("long")),
        F.lit(255).cast("long"),
    )


def sq_pack_encode(
    vector_col: Column, dim: int, lo: float, hi: float
) -> list[Column]:
    """All packed words: word w holds codes [4w, 4w+4) at 8 bits each.
    Narrow map expression — no shuffle, whole-stage codegen."""
    words = []
    for w in range(_sq_n_words(dim)):
        base = w * SQ_CODES_PER_WORD
        width = min(SQ_CODES_PER_WORD, dim - base)
        acc = F.lit(0).cast("long")
        for j in range(width):
            code = _sq_code(F.element_at(vector_col, base + j + 1), lo, hi)
            acc = acc + F.shiftleft(code, 8 * j)
        words.append(acc)
    return words


def sq_pack_py(vector: Sequence[float], lo: float, hi: float) -> list[int]:
    """Driver-side packing of the query vector (same convention)."""
    codes = sq_encode_py(vector, lo, hi)
    words = [0] * _sq_n_words(len(vector))
    for i, c in enumerate(codes):
        words[i // SQ_CODES_PER_WORD] |= c << (8 * (i % SQ_CODES_PER_WORD))
    return words


def sq_packed_distance(
    word_cols: Sequence[Column], query_words: Sequence[int]
) -> Column:
    """Squared L2 over the packed codes: per word, extract each byte
    (shift + mask — integer codegen, no float math) and accumulate the
    squared difference against the pre-extracted query byte. Identical
    values to sq_l2_code_distance over unpacked codes."""
    acc = F.lit(0).cast("long")
    for c, qw in zip(word_cols, query_words):
        for j in range(SQ_CODES_PER_WORD):
            b = F.shiftright(c, 8 * j).bitwiseAND(F.lit(255))
            qb = (qw >> (8 * j)) & 255
            d = b - F.lit(qb)
            acc = acc + d * d
    return acc


def _sq_unit_col(vector_col: Column) -> Column:
    """L2-normalized copy of an array<float/double> column (zero vectors
    pass through). Narrow codegen expression — one aggregate + one
    transform, no shuffle."""
    nrm = F.sqrt(F.aggregate(
        vector_col, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return F.when(nrm == 0.0, vector_col.cast("array<double>")).otherwise(
        F.transform(vector_col, lambda x: x.cast("double") / nrm))


def _sq_unit_py(vector: Sequence[float]) -> list[float]:
    nrm = sum(float(x) * float(x) for x in vector) ** 0.5
    if nrm == 0.0:
        return [float(x) for x in vector]
    return [float(x) / nrm for x in vector]


def _sq_code_frame(
    rows: DataFrame, id_col: str, vector_col: str, dim: int,
    lo: float, hi: float, normalize: bool = False,
) -> DataFrame:
    vec = F.col(vector_col)
    if normalize:
        # cosine-serving codes: encode the UNIT vector, so the packed
        # squared-L2 code distance is monotone in cosine distance even
        # for varying-norm corpora (||a-b||^2 = 2 - 2*cos on unit
        # vectors). Unnormalized codes rank by raw L2, which disagrees
        # with cosine whenever norms vary — measured recall@10 fell to
        # 0.2 on a varying-norm 1M corpus. The reference normalizes
        # cosine collections at ingest (distancer "cosine-dot").
        vec = _sq_unit_col(vec)
    return rows.where(F.col(vector_col).isNotNull()).select(
        id_col,
        *[c.alias(f"_sq{w}")
          for w, c in enumerate(sq_pack_encode(vec, dim, lo, hi))],
    )


def build_sq_artifact(
    spark: SparkSession,
    sf_dir: str,
    collection: str,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int | None = None,
    lo: float = -1.0,
    hi: float = 1.0,
    normalize: bool = False,
) -> str | None:
    """Ingest-phase build of the written packed-SQ artifact (idempotent),
    mirroring build_bq_artifact. Bounds are per-collection constants
    (the reference trains them on a sample at ingest); ``normalize``
    encodes unit vectors (the cosine-serving variant, its own artifact
    key)."""
    base = load_table(spark, sf_dir, collection)
    if dim is None:
        row = base.select(F.size(F.col(vector_col)).alias("d")).where(
            F.col(vector_col).isNotNull()).limit(1).collect()
        if not row:
            return None
        dim = int(row[0]["d"])
    variant: tuple = ("sq", id_col, vector_col, dim, float(lo), float(hi),
                      VEC_ARTIFACT_FORMAT)
    if normalize:
        variant += ("unit",)
    return _vec_artifact_dir(
        sf_dir, collection, variant,
        lambda: _sq_code_frame(base, id_col, vector_col, dim, lo, hi,
                               normalize=normalize),
    )


def sq_trained_bounds(
    spark: SparkSession,
    sf_dir: str,
    collection: str,
    vector_col: str = "embedding",
    clip_quantile: float = 0.0,
    sample_cap: int = 200_000,
) -> tuple[float, float]:
    """Per-collection SQ code bounds trained from the data, the
    reference's scalar-quantizer Fit step (compressionhelpers/
    scalar_quantization.go:69-93 trains min b and range a over a
    training sample at ingest). With ``clip_quantile=0`` (default):
    exact global min/max — deterministic under any partitioning, so
    the artifact fingerprint (which embeds lo/hi) stays stable for
    unchanged data. Fixed [-1, 1] bounds saturate every component of
    an unnormalized corpus to code 0/255 and silently degrade the
    candidate scan; training closes that footgun for the
    quantize="auto" route.

    ``clip_quantile=q`` (e.g. 0.005) trains PERCENTILE-CLIPPED bounds
    [P_q, P_{1-q}] of the component distribution instead: on a
    heavy-tailed corpus, one 1000x-outlier component stretches min/max
    so far that the 255-code grid leaves ~1 code for the entire data
    mass (recall collapse); clipped bounds keep full resolution where
    the mass is, and the outlier components clamp to code 0/255 (the
    encoder saturates, sq_encode_py/_sq_code). Determinism at scale:
    exact `percentile` over the exploded components of a DETERMINISTIC
    hash sample (xxhash64(vector) mod m == 0, sized to ~``sample_cap``
    rows) — partition-count-invariant, unlike approx_percentile, so
    the artifact fingerprint stays reproducible. The reference samples
    for the same reason (its Fit never sees the full 100-TB column).
    Degenerate corpora (empty / all-null / constant) fall back to
    [-1, 1]. A registry entry per (session, table, column, q,
    sample_cap), stamped with the table's file fingerprint: any write
    to the table retrains the bounds at the next call."""
    q = float(clip_quantile)
    if not 0.0 <= q < 0.5:
        raise ValueError(
            f"clip_quantile must be in [0, 0.5), got {clip_quantile!r} "
            "(q >= 0.5 would make the lower bound meet or cross the "
            "upper bound)")

    def _train() -> tuple[float, float]:
        base = load_table(spark, sf_dir, collection)
        vals = base.where(F.col(vector_col).isNotNull())
        if clip_quantile > 0.0:
            n = vals.count()
            if n > sample_cap:
                m = -(-n // sample_cap)  # ceil -> ~sample_cap rows kept
                vals = vals.where(
                    F.pmod(F.xxhash64(F.col(vector_col)), F.lit(m)) == 0)
            row = (
                vals.select(F.explode(F.col(vector_col)).alias("_x"))
                .agg(F.expr(
                    f"percentile(_x, array({q}, {1.0 - q}))").alias("p"))
                .collect()[0]
            )
            lo, hi = (row["p"][0], row["p"][1]) if row["p"] else (None, None)
        else:
            row = vals.agg(
                F.min(F.array_min(F.col(vector_col))).alias("lo"),
                F.max(F.array_max(F.col(vector_col))).alias("hi"),
            ).collect()[0]
            lo, hi = row["lo"], row["hi"]
        if lo is None or hi is None or not float(hi) > float(lo):
            lo, hi = -1.0, 1.0
        return float(lo), float(hi)

    return registry.resolve(
        spark, "sq_bounds", source_paths(sf_dir, collection),
        (vector_col, q, int(sample_cap)), _train)


def with_sq_index(
    df: DataFrame, id_col: str, vector_col: str, dim: int,
    lo: float, hi: float, table_key: tuple, normalize: bool = False,
) -> DataFrame:
    """(id, _sq0.._sqN) — packed-SQ encoded collection, served from the
    written ingest artifact when the source has one; session build is
    the fallback for fingerprint-less test corpora. Streaming appends
    layer on as O(batch) segments (incremental.py)."""
    def _encode(rows: DataFrame) -> DataFrame:
        return _sq_code_frame(rows, id_col, vector_col, dim, lo, hi,
                              normalize=normalize)

    def _build() -> DataFrame:
        if len(table_key) == 2:
            sf_dir, collection = table_key
            variant: tuple = ("sq", id_col, vector_col, dim, float(lo),
                              float(hi), VEC_ARTIFACT_FORMAT)
            if normalize:
                variant += ("unit",)
            root = _vec_artifact_dir(
                str(sf_dir), str(collection), variant,
                lambda: _sq_code_frame(df, id_col, vector_col, dim, lo, hi,
                                       normalize=normalize),
            )
            if root is not None:
                return df.sparkSession.read.parquet(f"{root}/codes")
        return _encode(df)

    return _code_table(
        df, table_key, ("sq", dim, float(lo), float(hi), bool(normalize)),
        id_col, _build, _encode)


def sq_topk(
    spark: SparkSession,
    sf_dir: str,
    collection: str,
    vector: Sequence[float],
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    k: int = 10,
    overfetch: int = 4,
    metric: str = "cosine",
    lo: float = -1.0,
    hi: float = 1.0,
    round_digits: int = 6,
    table_key: tuple | None = None,
    where=None,
    normalize: bool | None = None,
) -> DataFrame:
    """SQ search: packed-code squared-L2 overfetch of `overfetch * k`
    candidates (integer shift/mask/mul codegen over 4x-compressed rows),
    exact-`metric` rescore of only those candidates via the same
    pushed-In base-scan read as bq_topk. Deterministic: ties break by
    id at both stages, so the candidate SET is value-checkable.

    ``normalize=None`` resolves to False and is the oracle-pinned
    contract (raw-value codes — callers that mirror code semantics in
    SQL rely on it). Pass True for cosine searches over varying-norm
    corpora: codes are built from UNIT vectors, making the L2 code
    distance monotone in cosine distance (||a-b||^2 = 2-2cos on the
    unit sphere) — the near_vector auto/sq route does this."""
    normalize = bool(normalize)
    dim = len(vector)
    base = load_table(spark, sf_dir, collection)
    if table_key is not None:
        enc = with_sq_index(base, id_col, vector_col, dim, lo, hi,
                            table_key, normalize=normalize)
    else:
        enc = _sq_code_frame(base, id_col, vector_col, dim, lo, hi,
                             normalize=normalize)
    if where is not None:
        from weaviate_spark.filters import apply_where

        allow = apply_where(base, where).select(id_col)
        enc = enc.join(allow, id_col, "left_semi")
    qvec = _sq_unit_py(vector) if normalize else vector
    qwords = sq_pack_py(qvec, lo, hi)
    word_cols = [F.col(f"_sq{w}") for w in range(_sq_n_words(dim))]
    candidates = (
        enc.withColumn("_cdist", sq_packed_distance(word_cols, qwords))
        .orderBy(F.col("_cdist").asc(), F.col(id_col).asc())
        .limit(overfetch * k)
    )
    cand_ids = [r[0] for r in candidates.select(id_col).collect()]
    if not cand_ids:
        return base.select(
            id_col, F.lit(None).cast("double").alias("_distance")
        ).limit(0)
    qv = lit_double_array(vector)
    rescored = (
        base.where(F.col(id_col).isin(cand_ids)
                   & F.col(vector_col).isNotNull())
        .withColumn(
            "_distance",
            F.round(distance(F.col(vector_col), qv, metric), round_digits),
        )
    )
    return (
        rescored.select(id_col, "_distance")
        .orderBy(F.col("_distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# product quantization (PQ): per-segment k-means codebooks + ADC search
# (compressionhelpers/product_quantization.go; codebook persistence:
# entities/vectorindex/compression/pq_data.go)

def pq_train(X, segments: int = 8, centroids: int = 16,
             iters: int = 8, seed: int = 42):
    """Per-segment Lloyd's k-means codebook (the training step the
    reference runs on a sample at compression time,
    product_quantization.go Fit): seeded numpy init, argmin-l2 assign
    with smallest-index tie-break, empty clusters keep their previous
    centroid, centroids rounded to 6dp so the literals embed identically
    in Spark and oracle SQL. Deterministic for a fixed sample.
    Returns list[segments][centroids][seg_dim]."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n, dim = X.shape
    seg_dim = dim // segments
    book = np.zeros((segments, centroids, seg_dim))
    for s in range(segments):
        Xs = X[:, s * seg_dim:(s + 1) * seg_dim]
        rng = np.random.RandomState(seed + s)
        C = Xs[rng.choice(n, centroids, replace=False)].copy()
        for _ in range(iters):
            d = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(centroids):
                members = Xs[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        book[s] = C
    return np.round(book, 6).tolist()


def _pq_assign_scores(Xs, C):
    """Per-segment assignment scores: -2*x.c + |c|^2 (the |x|^2 term is
    constant per row and drops out of the argmin). This exact form — a
    dot product against the 6dp-rounded centroid literals plus a
    precomputed |c|^2 constant — is what the DuckDB oracle evaluates,
    so both engines argmin over the same arithmetic."""
    import numpy as np

    cc = (C * C).sum(axis=1)
    return -2.0 * (Xs @ C.T) + cc[None, :]


def pq_encode_py(vector: Sequence[float], codebook,
                 normalize: bool = True) -> list[int]:
    """Driver-side PQ encode (query/debug path): argmin centroid per
    segment, smallest index on ties — matches the numpy corpus kernel
    and the oracle's list_position(first-occurrence) semantics."""
    import numpy as np

    x = np.asarray([float(v) for v in vector], dtype=np.float64)
    if normalize:
        x = x / np.sqrt((x * x).sum())
    codes = []
    for s, C in enumerate(codebook):
        C = np.asarray(C, dtype=np.float64)
        seg_dim = C.shape[1]
        xs = x[s * seg_dim:(s + 1) * seg_dim]
        scores = _pq_assign_scores(xs[None, :], C)[0]
        codes.append(int(scores.argmin()))
    return codes


def _pq_encode_kernel(codebook, normalize: bool = True):
    """mapInPandas corpus encoder: one numpy GEMM per segment per batch
    (ingest-time work — the encoded table is cached per session like the
    BQ index). ``normalize`` projects rows onto the unit sphere first —
    the reference stores normalized vectors for cosine collections, so
    ADC's L2 ordering equals the cosine ordering."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        books = [np.asarray(C, dtype=np.float64) for C in codebook]
        seg_dim = books[0].shape[1]
        for pdf in batches:
            if pdf.empty:
                continue
            keep = pdf["_v"].notna()
            pdf = pdf[keep]
            if pdf.empty:
                continue
            X = as_matrix(pdf["_v"], "_v")
            if normalize:
                X = X / np.sqrt((X * X).sum(axis=1, keepdims=True))
            codes = np.zeros((len(pdf), len(books)), dtype=np.int32)
            for s, C in enumerate(books):
                Xs = X[:, s * seg_dim:(s + 1) * seg_dim]
                codes[:, s] = _pq_assign_scores(Xs, C).argmin(axis=1)
            yield pd.DataFrame({
                "_id": pdf["_id"].to_numpy(),
                "_v": pdf["_v"].to_numpy(),
                "_pq": list(codes),
            })

    return gen




def with_pq_index(
    df: DataFrame, id_col: str, vector_col: str, codebook, table_key: tuple,
    normalize: bool = True,
) -> DataFrame:
    """(_id, _v, _pq codes) — encoded collection, built once per session
    (the restored-codebook ingest artifact of pq_data.go). Null vectors
    are dropped (nothing to index); ``_v`` keeps the ORIGINAL vector for
    the exact rescore."""

    def _encode(rows: DataFrame) -> DataFrame:
        return rows.select(
            F.col(id_col).alias("_id"), F.col(vector_col).alias("_v")
        ).mapInPandas(
            _pq_encode_kernel(codebook, normalize),
            "_id long, _v array<float>, _pq array<int>",
        )

    return _code_table(df, table_key, ("pq", normalize), "_id",
                       lambda: _encode(df), _encode)


def pq_lut_py(vector: Sequence[float], codebook, round_digits: int = 6,
              normalize: bool = True) -> list[list[float]]:
    """Query-side ADC lookup table (DistanceLookUpTable.PrecomputeTable):
    exact squared-L2 between each query segment and each centroid,
    rounded so the identical literals embed in the oracle SQL."""
    import numpy as np

    x = np.asarray([float(v) for v in vector], dtype=np.float64)
    if normalize:
        x = x / np.sqrt((x * x).sum())
    lut = []
    for s, C in enumerate(codebook):
        C = np.asarray(C, dtype=np.float64)
        seg_dim = C.shape[1]
        xs = x[s * seg_dim:(s + 1) * seg_dim]
        d = ((C - xs[None, :]) ** 2).sum(axis=1)
        lut.append([float(v) for v in np.round(d, round_digits)])
    return lut


def pq_adc_col(codes_col: Column, lut: Sequence[Sequence[float]]) -> Column:
    """ADC distance: sum over segments of LUT[seg][code] — a handful of
    array lookups per row (LookUp in product_quantization.go), no float
    math over the original vectors."""
    acc = None
    for s, seg_lut in enumerate(lut):
        arr = lit_double_array(seg_lut)
        term = F.element_at(arr, F.element_at(codes_col, s + 1) + F.lit(1))
        acc = term if acc is None else acc + term
    return acc


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    collection: str,
    vector: Sequence[float],
    codebook=None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    k: int = 10,
    overfetch: int = 4,
    metric: str = "cosine",
    round_digits: int = 6,
    table_key: tuple | None = None,
) -> DataFrame:
    """PQ search: ADC overfetch of `overfetch * k` candidates over the
    codes (8 array lookups per row instead of 64 float multiplies), then
    exact-`metric` rescore of only those candidates — the same
    overfetch/rescore shape as bq_topk, with the PQ distancer semantics
    of product_quantization.go (PQDistancer.Distance -> LookUp).
    Returns (id, _distance) top-k, distance asc / id asc.

    Scale: encoding is ingest-time (cached index table / persisted
    codes column); search is a narrow scan of the codes + one top-k
    merge; rescore touches overfetch*k rows."""
    if codebook is None:
        from weaviate_spark.operators.pq_codebook import CODEBOOK
        codebook = CODEBOOK
    normalize = metric == "cosine"
    base = load_table(spark, sf_dir, collection)
    enc = with_pq_index(
        base, id_col, vector_col, codebook,
        table_key if table_key is not None else (sf_dir, collection),
        normalize=normalize,
    )
    lut = pq_lut_py(vector, codebook, round_digits, normalize=normalize)
    candidates = (
        enc.withColumn("_adc", pq_adc_col(F.col("_pq"), lut))
        .orderBy(F.col("_adc").asc(), F.col("_id").asc())
        .limit(overfetch * k)
    )
    qv = lit_double_array(vector)
    return (
        candidates.withColumn(
            "_distance", F.round(distance(F.col("_v"), qv, metric), round_digits)
        )
        .select(F.col("_id").alias(id_col), "_distance")
        .orderBy(F.col("_distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# rotational quantization (RQ): seeded fast rotation + per-vector 8-bit
# codes + estimated-dot candidate selection + exact rescore
# (compressionhelpers/rotational_quantization.go, fast_rotation.go;
# entities/vectorindex/compression/fast_rotation.go:126-215)

def rq_rotation_matrix(dim: int = 64, rounds: int = 3, seed: int = 7,
                       round_digits: int = 6):
    """The reference's FastRotation — per round a random signed
    permutation followed by a blocked Walsh-Hadamard transform — folded
    into ONE dim x dim matrix and rounded to 6dp, so the identical
    literals embed in the Spark kernel and the DuckDB oracle (the
    persisted-rotation analogue of RestoreFastRotation; our RNG differs
    from Go's PCG, a documented divergence — the rotation is an internal
    random artifact, not a semantic)."""
    import numpy as np

    if dim & (dim - 1):
        raise ValueError("dim must be a power of two")
    # Hadamard matrix via Sylvester construction, orthonormal scaling
    H = np.array([[1.0]])
    while H.shape[0] < dim:
        H = np.block([[H, H], [H, -H]])
    H = H / np.sqrt(dim)
    M = np.eye(dim)
    for r in range(rounds):
        rng = np.random.RandomState(seed + r)
        perm = rng.permutation(dim)
        signs = rng.choice([-1.0, 1.0], size=dim)
        P = np.zeros((dim, dim))
        P[np.arange(dim), perm] = signs
        M = H @ P @ M
    return np.round(M, round_digits)


def rq_rotate_py(vector, M, normalize: bool = True):
    import numpy as np

    x = np.asarray([float(v) for v in vector], dtype=np.float64)
    if normalize:
        x = x / np.sqrt((x * x).sum())
    return M @ x


def _rq_encode_kernel(M, normalize: bool = True):
    """mapInPandas corpus encoder: rotate (one GEMM per batch), then
    per-VECTOR 8-bit scalar quantization — lower/step from the rotated
    vector's own min/max (rotational_quantization.go encode: the
    rotation spreads energy across dims, so per-vector bounds are
    tight). Emits (codes, lower, step) plus the original vector for the
    exact rescore."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        Mx = np.asarray(M, dtype=np.float64)
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf[pdf["_v"].notna()]
            if pdf.empty:
                continue
            X = as_matrix(pdf["_v"], "_v")
            if normalize:
                X = X / np.sqrt((X * X).sum(axis=1, keepdims=True))
            R = X @ Mx.T
            lower = R.min(axis=1)
            upper = R.max(axis=1)
            step = (upper - lower) / 255.0
            safe = step > 0
            if not safe.all():
                # degenerate vectors (constant after rotation, step == 0)
                # cannot be 8-bit coded — drop them, mirroring the
                # oracle's WHERE st > 0 and the BQ null-drop.
                pdf = pdf[safe]
                if pdf.empty:
                    continue
                R, lower, step = R[safe], lower[safe], step[safe]
            codes = np.clip(
                np.floor((R - lower[:, None]) / step[:, None] + 0.5), 0, 255,
            ).astype(np.int32)
            yield pd.DataFrame({
                "_id": pdf["_id"].to_numpy(),
                "_v": pdf["_v"].to_numpy(),
                "_codes": list(codes),
                "_lower": lower,
                "_step": step,
            })

    return gen




def with_rq_index(
    df: DataFrame, id_col: str, vector_col: str, M, table_key: tuple,
    normalize: bool = True,
) -> DataFrame:
    def _encode(rows: DataFrame) -> DataFrame:
        return rows.select(
            F.col(id_col).alias("_id"), F.col(vector_col).alias("_v")
        ).mapInPandas(
            _rq_encode_kernel(M, normalize),
            "_id long, _v array<float>, _codes array<int>, "
            "_lower double, _step double",
        )

    return _code_table(df, table_key, ("rq", normalize), "_id",
                       lambda: _encode(df), _encode)


def rq_topk(
    spark: SparkSession,
    sf_dir: str,
    collection: str,
    vector: Sequence[float],
    M=None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    k: int = 10,
    overfetch: int = 4,
    metric: str = "cosine",
    round_digits: int = 6,
    table_key: tuple | None = None,
) -> DataFrame:
    """RQ search: the estimated dot between the (full-precision) rotated
    query and a coded vector is closed-form —
    ``lower * sum(q_rot) + step * dot(q_rot, codes)``
    (RQDistancer semantics, rotational_quantization.go:253-310) — so
    candidate selection is one narrow expression over the codes column,
    then the exact metric rescores only overfetch*k rows. For cosine
    both sides are unit-normalized, so estimated distance =
    1 - estimated dot."""
    import numpy as np

    if M is None:
        M = rq_rotation_matrix(len(vector))
    normalize = metric == "cosine"
    base = load_table(spark, sf_dir, collection)
    enc = with_rq_index(
        base, id_col, vector_col, M,
        table_key if table_key is not None else (sf_dir, collection),
        normalize=normalize,
    )
    qr = rq_rotate_py(vector, np.asarray(M), normalize=normalize)
    sumq = float(qr.sum())
    qarr = lit_double_array(qr)
    dotqc = F.aggregate(
        F.zip_with(qarr, F.col("_codes"), lambda a, b: a * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    est = F.lit(1.0) - (F.col("_lower") * F.lit(sumq) + F.col("_step") * dotqc)
    candidates = (
        enc.withColumn("_est", F.round(est, round_digits))
        .orderBy(F.col("_est").asc(), F.col("_id").asc())
        .limit(overfetch * k)
    )
    qv = lit_double_array(vector)
    return (
        candidates.withColumn(
            "_distance", F.round(distance(F.col("_v"), qv, metric), round_digits)
        )
        .select(F.col("_id").alias(id_col), "_distance")
        .orderBy(F.col("_distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ composite (coarse cells + PQ codes in one persisted table —
# the IVFADC shape, Jégou et al. TPAMI'11): probe a few cells, ADC-scan
# only their members' codes, exact-rescore only the overfetch set.
# At 100 TB this is the route where BOTH pruning dimensions compound:
# nprobe/k_cells of the corpus is scanned at all, and what is scanned
# costs 8 array lookups per row instead of dim float multiplies.


def _ivfpq_encode_kernel(ivf_centroids, codebook, normalize: bool = True):
    """One-pass corpus encoder: coarse cell (argmin over the full-dim
    IVF centroids) + per-segment PQ codes, one numpy GEMM each per
    batch — a single ingest scan materializes both pruning columns."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        ivf = np.asarray(ivf_centroids, dtype=np.float64)
        books = [np.asarray(C, dtype=np.float64) for C in codebook]
        seg_dim = books[0].shape[1]
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf[pdf["_v"].notna()]
            if pdf.empty:
                continue
            X = as_matrix(pdf["_v"], "_v")
            if normalize:
                X = X / np.sqrt((X * X).sum(axis=1, keepdims=True))
            cell = _pq_assign_scores(X, ivf).argmin(axis=1).astype(np.int32)
            codes = np.zeros((len(pdf), len(books)), dtype=np.int32)
            for s, C in enumerate(books):
                Xs = X[:, s * seg_dim:(s + 1) * seg_dim]
                codes[:, s] = _pq_assign_scores(Xs, C).argmin(axis=1)
            yield pd.DataFrame({
                "_id": pdf["_id"].to_numpy(),
                "_v": pdf["_v"].to_numpy(),
                "_cell": cell,
                "_pq": list(codes),
            })

    return gen


def with_ivfpq_index(
    df: DataFrame, id_col: str, vector_col: str, ivf_centroids, codebook,
    table_key: tuple, normalize: bool = True,
) -> DataFrame:
    """(_id, _v, _cell, _pq) — the session-persisted IVF-PQ table. At
    real scale this is written partitionBy(_cell) so a probe is a
    partition-pruned directory read, exactly like the tenant routing."""

    def _encode(rows: DataFrame) -> DataFrame:
        return rows.select(
            F.col(id_col).alias("_id"), F.col(vector_col).alias("_v")
        ).mapInPandas(
            _ivfpq_encode_kernel(ivf_centroids, codebook, normalize),
            "_id long, _v array<float>, _cell int, _pq array<int>",
        )

    return _code_table(df, table_key, ("ivfpq", normalize), "_id",
                       lambda: _encode(df), _encode)


def ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    collection: str,
    vector: Sequence[float],
    ivf_centroids=None,
    codebook=None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    k: int = 10,
    nprobe: int = 3,
    overfetch: int = 4,
    metric: str = "cosine",
    table_key: tuple | None = None,
) -> DataFrame:
    """IVF-PQ search: probe the ``nprobe`` cells nearest the query
    (driver-side over the tiny centroid artifact), ADC-rank ONLY those
    cells' codes, exact-``metric`` rescore of the overfetch*k
    candidates. Every stage deterministic (6dp literals, id ties), so
    the full cascade mirrors in oracle SQL."""
    if ivf_centroids is None:
        from weaviate_spark.operators.pq_codebook import IVF_CENTROIDS
        ivf_centroids = IVF_CENTROIDS
    if codebook is None:
        from weaviate_spark.operators.pq_codebook import CODEBOOK
        codebook = CODEBOOK
    normalize = metric == "cosine"
    base = load_table(spark, sf_dir, collection)
    enc = with_ivfpq_index(
        base, id_col, vector_col, ivf_centroids, codebook,
        table_key if table_key is not None else (sf_dir, collection),
        normalize=normalize,
    )
    cell_lut = pq_lut_py(vector, [ivf_centroids], normalize=normalize)[0]
    cells = sorted(range(len(cell_lut)), key=lambda c: (cell_lut[c], c))[:nprobe]
    lut = pq_lut_py(vector, codebook, normalize=normalize)
    candidates = (
        enc.where(F.col("_cell").isin(cells))
        .withColumn("_adc", pq_adc_col(F.col("_pq"), lut))
        .orderBy(F.col("_adc").asc(), F.col("_id").asc())
        .limit(overfetch * k)
    )
    qv = lit_double_array(vector)
    return (
        candidates.withColumn(
            "_distance", F.round(distance(F.col("_v"), qv, metric), 6)
        )
        .select(F.col("_id").alias(id_col), "_distance")
        .orderBy(F.col("_distance").asc(), F.col(id_col).asc())
        .limit(k)
    )
