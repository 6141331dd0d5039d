"""Deduplication operators for large-scale training-data pipelines
(BASELINE.json north star; not part of the weaviate surface — these are
the batch extras a 100 TB corpus pipeline needs).

All hashing is md5-based so every step is reproducible in the duckdb
oracle AND stable across cluster sizes / Spark versions (no reliance on
`hash()`/`xxhash64` whose seeds differ between engines). The MinHash
family hashes each shingle ONCE: md5 split into two 56-bit ints
(h1, h2), hash_i = h1 + i*h2 — the Kirsch-Mitzenmacher construction
('Less Hashing, Same Performance: Building a Better Bloom Filter',
ESA'06), 16x less hashing than md5-per-(i, shingle) with the same
collision behavior; mirrored exactly in SQL via
('0x' || substr(md5(s), ..))::BIGINT.

* ``exact_dedup_groups`` — hash-groupBy on normalized text: one shuffle
  on a uniformly distributed md5 key; scales linearly, no skew.
* ``minhash_signatures`` / ``minhash_lsh_pairs`` — shingle -> K
  min-hashes -> band -> bucket-join candidate generation -> exact
  Jaccard verification. The classic LSH trade: candidate pairs scale
  with collisions per bucket, not with n^2. Shuffles: (doc,hash_i)
  groupBy, band bucket groupBy, pair verification join — all on
  hash-uniform keys. Skew guard: buckets larger than
  ``max_bucket_size`` are dropped (boilerplate-cluster protection —
  a 10k-doc boilerplate bucket would otherwise emit 10^8 pairs).
* ``ngram_jaccard_pairs`` — exact Jaccard for a candidate pair set
  (used standalone at small scale; as the verify stage after LSH at
  large scale).
* ``simhash64`` — 64-bit simhash over word tokens (per-bit majority of
  token md5 bits); near-dups = signatures within Hamming distance k.
* ``embedding_neardup_pairs`` — cosine-close embedding pairs; brute
  self-join at test scale, LSH-bucketed via random hyperplanes
  (operators/similarity.py) at production scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from weaviate_spark import incremental
from weaviate_spark.cache import ensure_min_partitions, register_cache
from weaviate_spark.functions.distance import as_matrix, distance, micros, pairwise
from weaviate_spark.functions.text import tokenize


# ---------------------------------------------------------------------------
# exact

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplicate groups by exact (whitespace-normalized, lowercased)
    content hash. Returns (content_hash, dup_count, keep_id, dup_ids)
    for groups with >1 member; keep_id = smallest id (deterministic
    canonical survivor)."""
    norm = F.concat_ws(" ", tokenize(F.col(text_col), "word"))
    h = F.md5(norm)
    return (
        df.select(F.col(id_col).alias("_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("_id").alias("keep_id"),
            F.sort_array(F.collect_list("_id")).alias("dup_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# minhash + LSH

def _shingles(text_col: Column, n: int) -> Column:
    """Distinct word n-gram shingles of the text. (Guard: Spark's
    sequence(1,0) is descending [1,0], not empty — short docs must
    yield an empty shingle set.)"""
    toks = tokenize(text_col, "word")
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


def shingle_df(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc, shingle) exploded pairs — distinct shingles per doc.

    Repartitions the input first: small corpora arrive as one parquet
    file = one partition, which would serialize the (CPU-heavy)
    tokenize/shingle stage on a single core. At real scale the scan
    already has many partitions and the repartition coalesces to the
    same count (cheap); locally it unlocks all cores."""
    df = ensure_min_partitions(df)
    return df.select(
        F.col(id_col).alias("_doc"),
        F.explode(_shingles(F.col(text_col), n)).alias("_shingle"),
    )


def _km_halves(shingle: Column) -> tuple[Column, Column]:
    """ONE md5 per shingle, split into two 56-bit ints (h1, h2); the K
    hash family is h_i = h1 + i*h2 (Kirsch-Mitzenmacher construction —
    standard for Bloom/MinHash families, 'Less Hashing, Same
    Performance'). 16x less hashing than md5-per-(i, shingle); max value
    h1 + 15*h2 < 2^60 so plain BIGINT arithmetic, mirrored exactly in
    the duckdb oracle via ('0x' || substr(md5(s), ..))::BIGINT."""
    m = F.md5(shingle)
    h1 = F.conv(F.substring(m, 1, 14), 16, 10).cast("long")
    h2 = F.conv(F.substring(m, 15, 14), 16, 10).cast("long")
    return h1, h2


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """(doc, hash_idx, minhash) — minhash_i = min over shingles of
    h1 + i*h2 (one md5 per shingle, K-M derived family). One shuffle on
    (doc, i)."""
    h1, h2 = _km_halves(F.col("_shingle"))
    hashed = sh.select(
        "_doc", h1.alias("_h1"), h2.alias("_h2"),
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("_i"),
    ).withColumn("_h", F.col("_h1") + F.col("_i") * F.col("_h2"))
    return hashed.groupBy("_doc", "_i").agg(F.min("_h").alias("_minhash"))


def _ckpt(df: DataFrame) -> DataFrame:
    """The near-dup index's base build checkpoint (a traced benchmark
    run times index builds by this call)."""
    return df.localCheckpoint(eager=True)


def _sig_agg(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Wide-form minhash signatures: ONE groupBy producing all K mins as
    columns — no K-fold row blowup through the shuffle."""
    h1, h2 = _km_halves(F.col("_shingle"))
    return (
        sh.select("_doc", h1.alias("_h1"), h2.alias("_h2"))
        .groupBy("_doc")
        .agg(*[
            F.min(F.col("_h1") + F.lit(i) * F.col("_h2")).alias(f"_mh{i}")
            for i in range(num_hashes)
        ])
    )


def _resolve_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    table_key: tuple,
    num_hashes: int | None = None,
    want_sets: bool = False,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """(shingle, signature, set) tables of the persisted near-dup index
    of (corpus key, n), from ONE generation. The shingle table is an
    index of the segment store (incremental.py, registry family
    "dedup"): built here once, advanced by append_to_dedup_index,
    rebuilt when the table is written otherwise. The signature variants
    (by num_hashes) and the set table are its derived per-doc tables,
    built on first request and maintained through every compaction."""
    derived = {}
    if num_hashes is not None:
        derived["sig", num_hashes] = lambda sh: _sig_agg(sh, num_hashes)
    if want_sets:
        derived["sets"] = shingle_sets
    sh, tables = incremental.resolve(
        df.sparkSession, "dedup", table_key, (n,), "_doc",
        lambda: _ckpt(shingle_df(df, id_col, text_col, n)),
        lambda batch: shingle_df(batch, id_col, text_col, n),
        derived,
    )
    return sh, tables.get(("sig", num_hashes)), tables.get("sets")


def with_shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int, table_key: tuple
) -> DataFrame:
    sh, _, _ = _resolve_index(df, id_col, text_col, n, table_key)
    return sh


def append_to_dedup_index(
    new_docs: DataFrame, id_col: str, table_key: tuple, *, before: tuple,
) -> None:
    """INCREMENTAL index maintenance: record `new_docs` as an append
    segment for EVERY near-dup index built under `table_key` (all
    shingle_n values; every signature variant and the set table merge at
    compaction). O(batch) per index; the O(corpus) merge is deferred to
    compaction (next query, or segment cap). Semantics are the
    reference's object upsert: a re-arrived id REPLACES its indexed
    version, so after compaction the index equals a from-scratch
    rebuild over the logical corpus — latest version per id
    (tests/test_dedup_textstats.py pins the equality). No-op for a
    table_key that was never built: the next query builds the full
    corpus tables and sees the new docs anyway. Each index shingles the
    batch with the pipeline (text column, n) it was built with.
    ``before`` is the registry stamp of the table taken before the batch
    was written; the advanced indexes are re-stamped to the table as
    written."""
    incremental.append("dedup", table_key, new_docs, id_col, before)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
    table_key: tuple | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Pipeline: shingles -> minhash signatures -> band buckets (rows/band =
    num_hashes/bands, bucket key = md5 of the band's minhashes) ->
    candidate pairs from shared buckets -> exact Jaccard verify.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    if table_key is not None:
        # persisted shingle + signature + set tables (ingest-time
        # artifacts) — survive across queries, refreshed incrementally by
        # append_to_dedup_index, rebuilt when the table is written
        # otherwise. One resolver call = one generation (no torn reads
        # vs streaming).
        sh, sig, sets = _resolve_index(
            df, id_col, text_col, shingle_n, table_key,
            num_hashes=num_hashes, want_sets=True,
        )
    else:
        sets = None
        sh = register_cache(shingle_df(df, id_col, text_col, shingle_n).cache())
        sig = _sig_agg(sh, num_hashes)
    pairs = _band_candidates(sig, bands, rows_per_band, max_bucket_size)
    verified = jaccard_for_pairs(pairs, sh, sets=sets)
    return verified.where(F.col("jaccard") >= jaccard_threshold).select(
        F.col("_a").alias("id_a"), F.col("_b").alias("id_b"), "jaccard"
    )


def _band_candidates(
    sig: DataFrame, bands: int, rows_per_band: int, max_bucket_size: int
) -> DataFrame:
    """LSH band buckets -> distinct candidate pairs (_a < _b). Bucket
    key = md5 of the band's minhash slice; degenerate boilerplate
    buckets (> max_bucket_size members) are dropped — the skew guard
    that keeps the pair explosion bounded at corpus scale."""
    # one parsed SQL expression for the whole band/bucket array — the
    # composed-F.* form cost ~10 py4j round trips per band per build
    # (r11 driver-time profile); identical values (same concat_ws/md5)
    band_structs = []
    for b in range(bands):
        entry = ", ".join(
            f"concat('{i}:', CAST(_mh{i} AS STRING))"
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        band_structs.append(
            f"struct({b} AS _band, md5(concat_ws(',', {entry})) AS _bucket)"
        )
    buckets = (
        sig.select("_doc", F.expr(f"explode(array({', '.join(band_structs)}))").alias("_bb"))
        .select("_doc", F.col("_bb._band").alias("_band"), F.col("_bb._bucket").alias("_bucket"))
    )
    # skew guard: drop degenerate boilerplate buckets
    sized = buckets.groupBy("_band", "_bucket").agg(
        F.collect_list("_doc").alias("_docs"), F.count(F.lit(1)).alias("_n")
    ).where((F.col("_n") > 1) & (F.col("_n") <= max_bucket_size))

    return (
        sized.select(F.explode("_docs").alias("_a"), F.col("_docs"))
        .select("_a", F.explode("_docs").alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
    table_key: tuple | None = None,
) -> DataFrame:
    """Asymmetric containment dedup: directed (src_id, dst_id,
    containment) rows where C(src -> dst) = |S(src) ∩ S(dst)| / |S(src)|
    >= threshold — the subset-duplication detector (a paragraph pasted
    into a longer page scores ~1.0 toward the page while its Jaccard
    stays low). Broder's containment coefficient; the reference's dedup
    surface stops at symmetric resemblance, this is the pipeline-grade
    companion.

    Candidates come from the same MinHash band buckets as
    ``minhash_lsh_pairs`` (recall note: banding is tuned for Jaccard,
    so oracle and engine share the exact same candidate set by
    construction — the score, not the blocking, is what differs). Each
    undirected candidate emits up to two directed rows. Verify stage =
    one array_intersect per pair over the persisted shingle-set
    arrays; no exploded (pair, shingle) shuffle.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    if table_key is not None:
        sh, sig, sets = _resolve_index(
            df, id_col, text_col, shingle_n, table_key,
            num_hashes=num_hashes, want_sets=True,
        )
    else:
        sh = register_cache(shingle_df(df, id_col, text_col, shingle_n).cache())
        sig = _sig_agg(sh, num_hashes)
        sets = shingle_sets(sh)
    pairs = _band_candidates(sig, bands, rows_per_band, max_bucket_size)
    a = sets.select(F.col("_doc").alias("_a"), F.col("_ss").alias("_sa"))
    b = sets.select(F.col("_doc").alias("_b"), F.col("_ss").alias("_sb"))
    inter = (
        pairs.join(a, "_a").join(b, "_b")
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .select(
            "_a", "_b", "_inter",
            F.size("_sa").alias("_na"), F.size("_sb").alias("_nb"),
        )
    )
    # both directed rows come out of ONE pass over the verified pairs:
    # the union form re-executed the candidate join + array_intersect
    # verify once per direction (guide §2.4 — the per-pair set
    # intersection is the expensive stage). explode_outer (array is
    # non-empty by construction) keeps InferFiltersFromGenerate from
    # cloning the struct build into a pushed size()>0 filter.
    directed = inter.select(
        F.explode_outer(F.array(
            F.struct(
                F.col("_a").alias("src_id"), F.col("_b").alias("dst_id"),
                (F.col("_inter") / F.col("_na")).alias("_c"),
            ),
            F.struct(
                F.col("_b").alias("src_id"), F.col("_a").alias("dst_id"),
                (F.col("_inter") / F.col("_nb")).alias("_c"),
            ),
        )).alias("_e")
    ).select("_e.src_id", "_e.dst_id", "_e._c")
    return directed.where(F.col("_c") >= threshold).select(
        "src_id", "dst_id", F.round(F.col("_c") + F.lit(0.0), 6).alias("containment")
    )


def shingle_sets(sh: DataFrame) -> DataFrame:
    """(doc, shingle-set array) — the per-doc set view of the exploded
    shingle table. Shipped whole through candidate joins so the verify
    stage is two equi-joins plus a JVM-side array_intersect, instead of
    an exploded (pair, shingle) shuffle join.

    Elements are xxhash64 of the shingle, not the string: the arrays
    ride the candidate-pair shuffle twice per pair, and 8-byte longs cut
    that payload ~3x vs ~25-char shingle strings (at 10x data the string
    version moved >100 GB). |intersect| / |union| over the hashes equals
    the string-set Jaccard unless xxhash64 collides inside one doc or
    one candidate pair (~n_pairs * 53^2 / 2^64 ≈ 1e-8 at sf1 —
    negligible; the DuckDB oracle stays on strings and hash-matches)."""
    # array_distinct guards a shingle table carrying duplicate
    # (_doc, _shingle) rows — e.g. a rebuild over a raw append log where
    # one id arrived twice; per-row shingles are already distinct, so on
    # clean corpora this is a no-op pass over each array.
    return sh.groupBy("_doc").agg(
        F.array_distinct(F.collect_list(F.xxhash64("_shingle"))).alias("_ss")
    )


def jaccard_for_pairs(
    pairs: DataFrame, sh: DataFrame, sets: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs.

    Each doc's distinct shingle set rides as ONE array row through the
    two candidate equi-joins; |A ∩ B| = size(array_intersect) evaluated
    JVM-side per pair. Versus joining exploded (doc, shingle) rows this
    removes the high-fan-out (_b, _s) shuffle join and the count
    re-aggregation — the shuffle payload is one array per (pair, side),
    not one row per (pair, shingle)."""
    if sets is None:
        sets = shingle_sets(sh)
    a = sets.select(F.col("_doc").alias("_a"), F.col("_ss").alias("_sa"))
    b = sets.select(F.col("_doc").alias("_b"), F.col("_ss").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        pairs.join(a, "_a").join(b, "_b")
        .withColumn("_inter", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.size("_sa") + F.size("_sb") - F.col("_inter")),
                6,
            ),
        )
        .select("_a", "_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    table_key: tuple | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold.

    Candidate generation uses AllPairs/PPJoin prefix filtering (Bayardo
    et al., "Scaling Up All Pairs Similarity Search", WWW'07): order
    each doc's shingles by ascending global document frequency (rarest
    first, shingle value as tie-break) and emit only the first
    s - ceil(t*s) + 1 as join keys — any pair with J >= t provably
    shares one of these prefix shingles, so the filter is EXACT (the
    result set is identical to the naive any-shared-shingle join).
    Without it, one shingle common to k docs yields k^2/2 candidates:
    at 10x data the naive join spilled a local disk; at 100 TB it is a
    non-plan. Prefix shingles are rare by construction, so candidate
    buckets stay small. The epsilon inside ceil() guards float
    representation (0.35*20 = 7.000000000000001 would otherwise ceil
    to 8 and shorten the prefix — a false-negative risk); it can only
    lengthen the prefix, never drop a true pair."""
    if table_key is not None:
        # persisted shingle + set tables (ingest-time artifacts) —
        # survive across queries, resolved from one index generation
        sh, _, sets = _resolve_index(
            df, id_col, text_col, shingle_n, table_key, want_sets=True
        )
    else:
        sh = register_cache(shingle_df(df, id_col, text_col, shingle_n).cache())
        sets = None
    freq = sh.groupBy("_shingle").agg(F.count("*").alias("_df"))
    doc_win = Window.partitionBy("_doc")
    ranked = (
        sh.join(freq, "_shingle")
        .withColumn(
            "_rank",
            F.row_number().over(doc_win.orderBy("_df", "_shingle")),
        )
        .withColumn("_sz", F.count("*").over(doc_win))
    )
    prefix = ranked.where(
        F.col("_rank")
        <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz") - F.lit(1e-9)) + 1
    )
    # PPJoin-style size + positional filters (Xiao et al., WWW'08), both
    # conservative (each engine prunes only provably-sub-threshold pairs
    # under its own arithmetic, so oracle parity is unaffected):
    #  * size: J >= t forces t*|x| <= |y| (and symmetrically);
    #  * positional: all common shingles sort at-or-after the globally
    #    first shared one, so overlap <= 1 + min(|x|-rank_x, |y|-rank_y)
    #    at that token's per-doc ranks; J >= t needs overlap >=
    #    t/(1+t)*(|x|+|y|).
    # Posting-list pair emission (the _band_candidates shape) instead
    # of a prefix-vs-prefix self-join: the join executed the freq join
    # + both windows once PER SIDE and shuffled the prefix stream
    # twice; one groupBy now shuffles it once, with the size filter
    # applied map-side on the exploded pairs before the (_a, _b)
    # aggregate — the same rows the join's WHERE admitted. Prefix
    # postings are small by construction (rarest-first shingles), so
    # the per-shingle array is the prefix-filter bound itself.
    t_over = threshold / (1.0 + threshold)
    plist = (
        prefix.groupBy("_shingle")
        .agg(F.collect_list(F.struct("_doc", "_rank", "_sz")).alias("_ps"))
        .where(F.size("_ps") >= 2)
    )
    # double explode streams the posting^2 pairs row by row (the
    # _band_candidates shape); building the pair ARRAY in one row
    # (flatten/transform/slice) was measured 5x slower — an uncapped
    # posting materializes its whole pair set in a single row buffer
    cand = (
        plist.select(F.explode("_ps").alias("_x"), "_ps")
        .select("_x", F.explode("_ps").alias("_y"))
        .select(
            F.col("_x._doc").alias("_a"), F.col("_y._doc").alias("_b"),
            F.col("_x._rank").alias("_ra"), F.col("_y._rank").alias("_rb"),
            F.col("_x._sz").alias("_sza"), F.col("_y._sz").alias("_szb"),
        )
        .where(
            (F.col("_a") < F.col("_b"))
            & (F.col("_szb")
               >= F.ceil(F.lit(threshold) * F.col("_sza") - F.lit(1e-9)))
            & (F.col("_sza")
               >= F.ceil(F.lit(threshold) * F.col("_szb") - F.lit(1e-9)))
        )
        .groupBy("_a", "_b")
        .agg(
            F.min("_ra").alias("_ra"), F.min("_rb").alias("_rb"),
            F.max("_sza").alias("_sza"), F.max("_szb").alias("_szb"),
        )
    )
    pairs = cand.where(
        F.lit(1)
        + F.least(F.col("_sza") - F.col("_ra"), F.col("_szb") - F.col("_rb"))
        >= F.ceil(
            F.lit(t_over) * (F.col("_sza") + F.col("_szb")) - F.lit(1e-9)
        )
    ).select("_a", "_b")
    return (
        jaccard_for_pairs(pairs, sh, sets=sets)
        .where(F.col("jaccard") >= threshold)
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"), "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding near-dup

def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    max_distance: float = 0.25,
    metric: str = "cosine",
) -> DataFrame:
    """Pairs of rows whose embedding distance <= max_distance
    (id_a < id_b). Brute-force self-join — correct at any scale, O(n^2)
    compute; the production path buckets by random-hyperplane LSH
    (simhash over the embedding signs) first so only same-bucket pairs
    join. Exposed as the exactness oracle for that path."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("_vb"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    d = F.round(distance(F.col("_va"), F.col("_vb"), metric), 6)
    return (
        pairs.withColumn("_distance", d)
        .where(F.col("_distance") <= F.lit(max_distance))
        .select("id_a", "id_b", "_distance")
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    dim: int,
    max_distance: float = 0.25,
    metric: str = "cosine",
    num_planes: int = 6,
    seed: int = 42,
    probe: int = 2,
) -> DataFrame:
    """Scale path for embedding near-dup: candidate pairs are all pairs
    whose random-hyperplane LSH signatures are within Hamming distance 1
    (probe > 1) or equal (probe == 1), then exact rescore and threshold
    — no cross join anywhere in the plan.

    Candidate generation runs on the BUCKET-GRAPH EDGE, not on probed
    buckets: every unordered signature pair {b1, b2} with Hamming <= 1
    is one canonical edge key "min|max", the lower-bucket members land
    on side 0 and the higher-bucket members on side 1, so each candidate
    pair is generated EXACTLY ONCE. The previous probe-and-
    dropDuplicates formulation generated every pair up to
    2x(num_planes+1) times and shuffled the duplicated rows — vectors
    attached — through the dedup exchange (~48 GB at 10x data, 4 min
    wall). Here the only shuffle is the slim edge-keyed emission
    (~(num_planes/2 + 1) rows per vector per side, ~90 MB at 10x data).

    Rescoring is a per-edge numpy GEMM inside applyInPandas
    (``distance.pairwise``, shared with the kNN kernels): Arrow ships
    one row per BUCKET MEMBER, never per pair, and the pairwise
    distance matrix for an edge is one float64 matmul — the Catalyst
    higher-order-function cosine (zip_with + aggregate, interpreted per
    element) costs hundreds of µs per pair and dominated the old plan.
    Distances round half-up at 6dp (``distance.micros``), matching the
    DuckDB oracle. `embedding_neardup_pairs` (brute force) is the
    exactness/recall oracle (tests/test_dedup_textstats.py)."""
    from weaviate_spark.operators.similarity import hyperplanes, signature_col

    planes = hyperplanes(num_planes, dim, seed)
    s = df.select(
        F.col(id_col).alias("_id"), F.col(vector_col).alias("_v"),
        signature_col(F.col(vector_col), planes).alias("_sig"),
    )

    def edge_keys(side: str) -> Column:
        sig = F.col("_sig")
        # self-edge: same-bucket pairs, both sides emit
        edges = [F.concat(sig, F.lit("|"), sig)]
        if probe > 1:
            for i in range(num_planes):
                bit = F.substring(sig, i + 1, 1)
                flip = F.concat(
                    F.substring(sig, 1, i),
                    F.when(bit == "1", F.lit("0")).otherwise(F.lit("1")),
                    F.substring(sig, i + 2, num_planes),
                )
                key = F.concat(
                    F.least(sig, flip), F.lit("|"), F.greatest(sig, flip)
                )
                # a vector joins an edge from the LEFT iff its own bucket
                # is the edge's lower endpoint (bit '0' flips upward)
                cond = bit == F.lit("0" if side == "left" else "1")
                edges.append(F.when(cond, key))
        return F.array_compact(F.array(*edges))

    # one pass emits BOTH sides' edge keys: the left/right union scanned
    # the vectors and evaluated the signature fold once PER SIDE
    # (guide §2.4/§4 — at corpus scale that is a second full scan of
    # the vector bytes). Arrays are never empty (the self-edge is
    # unconditional), so explode_outer is row-preserving and keeps
    # InferFiltersFromGenerate from cloning the array build.
    frame = s.select(
        "_id", "_v",
        F.explode_outer(F.concat(
            F.transform(
                edge_keys("left"),
                lambda e: F.struct(
                    e.alias("_edge"), F.lit(0).alias("_side")
                ),
            ),
            F.transform(
                edge_keys("right"),
                lambda e: F.struct(
                    e.alias("_edge"), F.lit(1).alias("_side")
                ),
            ),
        )).alias("_es"),
    ).select(
        "_id", "_v",
        F.col("_es._edge").alias("_edge"),
        F.col("_es._side").alias("_side"),
    )

    if metric not in ("cosine", "l2-squared", "l2"):
        raise ValueError(
            f"embedding_neardup_pairs_lsh: unsupported metric {metric!r} "
            "(the max_distance threshold needs non-negative distances)"
        )
    id_type = dict(df.dtypes)[id_col]
    md = float(max_distance)

    def rescore(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "_distance": []})
        A = pdf[pdf["_side"] == 0]
        B = pdf[pdf["_side"] == 1]
        if A.empty or B.empty:
            return empty
        # float32 parquet values widened to float64 — the same doubles
        # the expression path and the DuckDB oracle compute with
        d = micros(pairwise(as_matrix(A["_v"], vector_col),
                            as_matrix(B["_v"], vector_col), metric)) / 1e6
        ia_idx, ib_idx = np.nonzero(d <= md)
        if ia_idx.size == 0:
            return empty
        ids_a = A["_id"].to_numpy()[ia_idx]
        ids_b = B["_id"].to_numpy()[ib_idx]
        dist = d[ia_idx, ib_idx]
        edge = pdf["_edge"].iat[0]
        b1, b2 = edge.split("|")
        if b1 == b2:
            # self edge: every pair appears in both orders -> keep one
            keep = ids_a < ids_b
            ids_a, ids_b, dist = ids_a[keep], ids_b[keep], dist[keep]
        else:
            # cross edge: each pair appears once, arbitrary order
            lo = np.minimum(ids_a, ids_b)
            hi = np.maximum(ids_a, ids_b)
            ids_a, ids_b = lo, hi
        return pd.DataFrame({"id_a": ids_a, "id_b": ids_b, "_distance": dist})

    return frame.groupBy("_edge").applyInPandas(
        rescore,
        schema=f"id_a {id_type}, id_b {id_type}, _distance double",
    )


# ---------------------------------------------------------------------------
# simhash

def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit simhash as a hex string: bit i set iff the majority of the
    doc's tokens have bit i set in md5(token). Pure column expressions:
    per-token first-16-hex -> 64 bits via conv(), per-bit vote."""
    # CPU-heavy narrow stage over a possibly single-split local scan:
    # spread first (no-op at real scale where the scan is already wide)
    df = ensure_min_partitions(df)
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(tokenize(F.col(text_col), "word")).alias("_t"),
    ).withColumn("_h", F.conv(F.substring(F.md5(F.col("_t")), 1, 15), 16, 10).cast("long"))
    # 60 usable bits from 15 hex chars (conv on 16 chars can overflow sign)
    bits = [F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1))).alias(f"_b{b}") for b in range(60)]
    votes = toks.groupBy("_doc").agg(F.count(F.lit(1)).alias("_n"), *bits)
    # flat concat of bit chars -> conv(,2,10): value-identical to the
    # sum of per-bit (1 << b) terms (verified row-for-row on sf0.01),
    # but a 60-child concat instead of a 60-DEEP nested Add tree — the
    # nested form cost ~4 s of first-action codegen/optimizer time and
    # ~2x the warm per-action driver overhead
    bitchars = [
        F.when(F.col(f"_b{b}") * 2 >= F.col("_n"), F.lit("1")).otherwise(F.lit("0"))
        for b in range(59, -1, -1)
    ]
    sim = votes.select(
        "_doc",
        F.conv(F.concat(*bitchars), 2, 10).cast("long").alias("simhash"),
    )
    return sim


def _blocking_plan(
    bits: int, max_hamming: int, min_key_bits: int = 12, max_level: int = 3
) -> tuple[int, int, int]:
    """(level t, num_chunks m, chunk_bits) for pigeonhole blocking.

    Split `bits` into m = max_hamming + t chunks of `bits // m` bits
    each (leftover high bits belong to no chunk — that only ADDS
    recall, since errors there damage nothing). A pair within the
    Hamming budget damages at most max_hamming chunks, so at least t
    chunks agree — emitting every C(m, t) chunk-combination as a join
    key is recall-lossless. t grows until the key is >= min_key_bits
    wide, so high budgets (where single chunks degenerate to a handful
    of bits and the chunk join silently becomes all-pairs — VERDICT r05
    finding #1) automatically step up to chunk-pair / chunk-triple
    keys instead."""
    for t in range(1, max_level + 1):
        m = max_hamming + t
        base = bits // m
        if base >= 1 and t * base >= min_key_bits:
            return t, m, base
    raise ValueError(
        f"max_hamming={max_hamming} leaves <{min_key_bits} key bits even "
        f"with chunk-{max_level}-combination blocking over {bits} bits — "
        "this radius is outside SimHash LSH's useful range; use "
        "minhash_neardup_pairs (Jaccard) for looser similarity"
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    min_key_bits: int = 12,
) -> DataFrame:
    """Pairs whose simhash Hamming distance <= max_hamming. Candidate
    generation by pigeonhole blocking (_blocking_plan): split the 60
    bits into max_hamming+t chunks — a pair within the budget must
    agree on at least t chunks, so every t-combination of chunk values
    is a candidate key. t=1 for production budgets (<=4 -> 12+ bit
    chunks); higher budgets auto-step to combination keys so the join
    key never collapses to a handful of bits.

    Trade-off dial: combination keys cut the FALSE-candidate stream by
    ~2^(t*base - base) (the sparse-duplicate 100 TB case, where
    candidates dominate) but emit each TRUE pair once per agreeing
    combo before the distinct (up to C(m, t) times). On duplicate-dense
    corpora whose result set is itself quadratic, single-chunk blocking
    can be cheaper — pass a small ``min_key_bits`` (e.g. 4) to force
    t=1 there. Recall is lossless either way."""
    from itertools import combinations

    t_level, num_chunks, width = _blocking_plan(60, max_hamming, min_key_bits)
    mask = (1 << width) - 1
    sim = register_cache(simhash64(df, id_col, text_col).cache())

    # integer combo key ((combo-id << t*width) | chunk values): an
    # 8-byte join key instead of a "c:v1:v2" string — smaller shuffle.
    # All C(m, t) keys come from ONE transform() lambda over the combo
    # index, with the chunk-index tables as array literals: the stress
    # plan's 455 separate nested shiftleft trees cost ~2.5 s of
    # analyzer/optimizer time PER ACTION PER JOIN SIDE (execution of
    # the same arithmetic is microseconds) — the lambda form carries
    # one compact expression and computes identical key values.
    combos = list(combinations(range(num_chunks), t_level))
    pos_tables = [
        "array(" + ", ".join(str(c[p]) for c in combos) + ")"
        for p in range(t_level)
    ]
    key_body = "i"
    for tbl in pos_tables:
        key_body = (
            f"(shiftleft({key_body}, {width}) + "
            f"(shiftright(simhash, element_at({tbl}, i + 1) * {width})"
            f" & {mask}))"
        )
    chunks = sim.select(
        "_doc", "simhash",
        F.explode(F.expr(
            f"transform(sequence(0, {len(combos) - 1}), i -> {key_body})"
        )).alias("_chunk"),
    )
    # posting-list candidates (the _band_candidates shape): one groupBy
    # shuffle of the chunk stream instead of two join-side shuffles of
    # the same cached rows; pairs stream out of a double explode with
    # the hamming filter applied map-side BEFORE the pair dedup — the
    # candidate stream (~n^2/2^width rows) never hits a shuffle, only
    # the matching pairs do (~250x smaller at 10x bench scale)
    plist = (
        chunks.groupBy("_chunk")
        .agg(F.collect_list(F.struct("_doc", "simhash")).alias("_ds"))
        .where(F.size("_ds") >= 2)
    )
    ham = (
        plist.select(F.explode("_ds").alias("_x"), "_ds")
        .select("_x", F.explode("_ds").alias("_y"))
        .where(F.col("_x._doc") < F.col("_y._doc"))
        .select(
            F.col("_x._doc").alias("_a"), F.col("_y._doc").alias("_b"),
            F.bit_count(F.col("_x.simhash").bitwiseXOR(
                F.col("_y.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return ham.select(
        F.col("_a").alias("id_a"), F.col("_b").alias("id_b"), "hamming"
    ).distinct()


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)

def semantic_dedup(
    spark,
    sf_dir: str,
    collection: str,
    eps: float,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    centroids=None,
    table_key: tuple | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", public arXiv 2303.09540): k-means-partition the
    embedding space with OFFLINE centroids (the persisted IVF/PQ
    artifact, tools/train_pq.py), then find near-duplicate pairs ONLY
    within each cluster and drop every member that has a lower-id
    neighbor within cosine distance `eps` (keep-lowest-id
    representative — deterministic stand-in for the paper's
    keep-farthest-from-centroid rule).

    Returns the DROP list: (id_col, kept_by, _distance) — one row per
    pruned item, naming its smallest-id retained neighbor.

    Scale shape: cluster assignment is the cached ingest-time PQ/IVF
    encode (one narrow pass); the quadratic pair scan runs per cluster
    as a numpy GEMM inside applyInPandas, so compute is
    sum(cluster^2)/2 dots, never corpus^2, and the only shuffle is the
    groupBy on the (16-way here, k-way in general) cluster key. Cluster
    count is the knob that bounds per-task memory at 100 TB — SemDeDup
    runs 50k clusters at web scale for exactly this reason. Missing
    cross-cluster near-dups are the documented SemDeDup approximation;
    the LSH path (embedding_neardup_pairs_lsh) is the recall-oriented
    alternative."""
    from weaviate_spark.operators.quantization import with_pq_index
    from weaviate_spark.sources.tables import load_table

    if centroids is None:
        from weaviate_spark.operators.pq_codebook import IVF_CENTROIDS
        centroids = IVF_CENTROIDS
    base = load_table(spark, sf_dir, collection)
    enc = with_pq_index(
        base, id_col, vector_col, [centroids],
        table_key if table_key is not None else (sf_dir, collection, "ivf"),
        normalize=True,
    )
    cells = enc.select(
        "_id", "_v", F.element_at(F.col("_pq"), 1).alias("_cell")
    )
    eps_f = float(eps)

    def prune(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"_id": [], "kept_by": [], "_distance": []})
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("_id", ignore_index=True)
        ids = pdf["_id"].to_numpy()
        V = as_matrix(pdf["_v"], vector_col)
        D = micros(pairwise(V, V, "cosine")) / 1e6
        out_id, out_keep, out_d = [], [], []
        for j in range(1, len(ids)):
            hits = np.nonzero(D[:j, j] <= eps_f)[0]
            if hits.size:
                i = hits[0]  # ids ascending -> first hit = smallest id
                out_id.append(ids[j])
                out_keep.append(ids[i])
                out_d.append(D[i, j])
        return pd.DataFrame({"_id": out_id, "kept_by": out_keep, "_distance": out_d})

    id_type = dict(base.dtypes)[id_col]
    return (
        cells.groupBy("_cell")
        .applyInPandas(prune, f"_id {id_type}, kept_by {id_type}, _distance double")
        .withColumnRenamed("_id", id_col)
    )


# ---------------------------------------------------------------------------
# exact substring duplication (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better", arXiv 2107.06499 — cross-doc
# repeated substrings; selection = Karp-Rabin-style 1/m hash sampling,
# Broder '97 "mod p" fingerprinting: deterministic, alignment-free)

def _substring_windows(
    df: DataFrame, id_col: str, text_col: str, k: int, select_hex: int
) -> DataFrame:
    """Raw (id, _h) selected-window stream, possibly with duplicates
    when a window repeats WITHIN a doc. Narrow: explode(sequence) +
    filter, no shuffle."""
    t = F.col(text_col)
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty —
    # texts shorter than k must yield no windows (same pitfall the
    # trigram tokenizer guards, functions/text.py)
    win = F.when(F.length(t) < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(t) - k + 1),
            lambda i: F.md5(t.substr(i, F.lit(k))),
        )
    )
    return (
        df.select(F.col(id_col), F.explode(win).alias("_h"))
        .where(F.substring("_h", 1, select_hex) == "0" * select_hex)
    )


def substring_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 40, select_hex: int = 1
) -> DataFrame:
    """(id, _h): md5 fingerprints of every k-char window whose hash
    falls in the selected 16^-select_hex fraction (md5 hex prefix of
    `select_hex` zeros — the engine-portable "h mod p == 0" rule).
    Expected output is chars/16^select_hex rows per doc. Distinct per
    (doc, hash) so a substring repeated WITHIN a doc counts once
    toward any pair."""
    return _substring_windows(df, id_col, text_col, k, select_hex).distinct()


def duplicated_substring_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 40,
    select_hex: int = 1,
    min_shared: int = 2,
    max_docs_per_fingerprint: int | None = None,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Doc pairs sharing >= min_shared selected k-char windows —
    verbatim cross-doc duplication (boilerplate, mirrored articles,
    license blocks) that token-level MinHash underweights. One shuffle:
    the equi-join on the md5 fingerprint. The md5 VALUE is uniform, but
    the POSTING LIST is not: one k-char boilerplate window (license
    header, nav bar) shared by F docs yields F^2 join rows, so a window
    in 10^5 docs means 10^10 rows before the groupBy. Skew guard
    (deterministic, same rule as tfidf_cosine_topk's
    max_postings_per_term, similarity.py, and fuzzy_name_pairs'
    max_bucket_size): fingerprints held by more than
    ``max_docs_per_fingerprint`` docs are dropped from pairing
    ENTIRELY — a window shared by everyone carries ~no pairwise signal
    (it is corpus boilerplate, the thing global_line_dedup / C4-style
    line filtering removes; route it there, not through an O(F^2)
    join). Exact degree filter -> oracles mirror it verbatim
    (``QUALIFY count(*) OVER (PARTITION BY h) <= cap``). The LIBRARY
    default is None — exact quadratic ground truth; library defaults
    stay exact and callers opt into caps explicitly, the same policy
    as jaccard_link_prediction's max_bucket_size. The registered
    queries pass ``max_docs_per_fingerprint=100`` at their call sites
    (entry_queries.py). The count runs as a window over
    the same ``_h`` key the join shuffles on, so the partitioning is
    computed once and reused.

    A pair is produced only per SHARED (under-cap) fingerprint so
    output is bounded by duplication actually present. At 100 TB,
    persist the fingerprint table as an ingest artifact (same lifecycle
    as the minhash signature table) and raise select_hex to trade
    recall for volume; winnowing (Schleimer et al. 2003) is the
    bounded-gap upgrade if worst-case guarantees are needed.

    ``fingerprints`` lets a caller pass a precomputed (cached or
    artifact-served) substring_fingerprints frame so the md5 explode —
    the expensive stage — runs once when the caller has other
    consumers of it (the persisted-ingest-artifact pattern)."""
    # posting-list pair emission instead of the fps-vs-fps self-join:
    # the join executed the md5 window explode — the expensive, full-
    # text stage — once PER SIDE (measured: 2 FileScans, no exchange
    # reuse), and the skew-cap needed its own count window over a third
    # consumption. One groupBy on the same _h key now builds the
    # per-fingerprint posting SET once — collect_set gives the
    # per-(doc,hash) dedup substring_fingerprints' .distinct() would,
    # so the internal path skips that separate shuffle of the same
    # window stream entirely (guide §2.2: shuffle the widest stream
    # once, not twice); the cap becomes a size() filter on it, and
    # pairs explode from the sorted array (i < j => id_a < id_b, ids
    # distinct per fingerprint via collect_set). Per-fingerprint work
    # is size^2 with either shape — a single hot fingerprint lands on
    # one partition under the equi-join too — but the scan, explode
    # and shuffle now happen once (guide §2.4).
    fps = (fingerprints if fingerprints is not None
           else _substring_windows(df, id_col, text_col, k, select_hex))
    plist = (
        fps.groupBy("_h")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("_ds"))
        .where(F.size("_ds") >= 2)
    )
    if max_docs_per_fingerprint is not None:
        plist = plist.where(F.size("_ds") <= max_docs_per_fingerprint)
    ds = F.col("_ds")
    pair_arr = F.flatten(F.transform(
        ds,
        lambda a, i: F.transform(
            F.slice(ds, i + F.lit(2), F.size(ds)),
            lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
        ),
    ))
    return (
        plist.select(F.explode(pair_arr).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup PAIRS — the step that turns
    pairwise dedup output into a keep/drop decision: every doc in a
    component gets the component's minimum id as ``cluster_id``, and
    ``keep`` marks the canonical survivor (doc_id == cluster_id). Docs
    that appear in no pair are implicitly kept (they are absent here).

    Algorithm: min-label propagation WITH pointer jumping — each round
    every node takes min(own label, neighbors' labels), then shortcuts
    through its label's label (label[n] <- min(label[n],
    label[label[n]])). Neighbor-min alone needs diameter-many rounds (a
    chain of d dups takes d rounds); the shortcut doubles the jump
    distance per round, so convergence is O(log n) — the same
    round-compression idea as the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14). Labels only decrease and always name a node of
    the same component, so the label total-sum is a strictly decreasing
    convergence witness (one tiny agg action per round, no row-level
    diff join), and the fixpoint is component-constant = the component
    minimum. Each round's labels are localCheckpoint(eager=True): plan
    depth stays O(1) across iterations instead of growing a
    join-per-round lineage.

    Per round: two shuffle joins (edges ⋈ labels on the destination
    id; labels ⋈ labels for the shortcut) + one groupBy(node) min —
    all on hash-uniform doc-id keys."""
    # both edge directions from ONE pass over the pair frame: the
    # self-union form executed the caller's whole pair-generation
    # lineage twice when the checkpoint materialized (guide §2.4 —
    # `pairs` is typically the full LSH candidate+verify pipeline).
    # explode_outer: array non-empty by construction, and explode would
    # invite an inferred size()>0 clone of the struct build.
    edges = pairs.select(
        F.explode_outer(F.array(
            F.struct(F.col(id_a).alias("_src"), F.col(id_b).alias("_dst")),
            F.struct(
                F.col(id_b).alias("_src"), F.col(id_a).alias("_dst")
            ),
        )).alias("_e")
    ).select("_e._src", "_e._dst").localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("_src").alias("_node")).distinct()
        .withColumn("_label", F.col("_node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("_label")).collect()[0][0]
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["_dst"] == labels["_node"])
            .groupBy(F.col("_src").alias("_n"))
            .agg(F.min("_label").alias("_nbr"))
        )
        stepped = labels.join(nbr, labels["_node"] == nbr["_n"], "left").select(
            "_node",
            F.least(
                F.col("_label"), F.coalesce(F.col("_nbr"), F.col("_label"))
            ).alias("_label"),
        )
        # pointer jump: follow the label's own label one hop
        jump = stepped.select(
            F.col("_node").alias("_j_node"), F.col("_label").alias("_j_label")
        )
        labels = (
            stepped.join(jump, stepped["_label"] == jump["_j_node"], "left")
            .select(
                "_node",
                F.least(
                    F.col("_label"),
                    F.coalesce(F.col("_j_label"), F.col("_label")),
                ).alias("_label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("_label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds — "
            "pathologically deep component; use large-star/small-star"
        )
    return labels.select(
        F.col("_node").alias("doc_id"),
        F.col("_label").alias("cluster_id"),
        (F.col("_node") == F.col("_label")).alias("keep"),
    )


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_edit: int = 3,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Entity-resolution candidate pairs by edit distance: DISTINCT
    name strings pair when they share a blocking key (first token),
    differ in length by at most ``max_edit`` (a provably lossless
    Levenshtein prefilter — fewer than that many edits cannot change
    the length more), and sit within ``max_edit`` Levenshtein edits.
    Returns (name_a, name_b, distance, n_a, n_b) with per-name
    occurrence counts — the typo/variant-spelling dedup that hash and
    shingle families miss on short strings.

    Scale: the corpus collapses to the distinct-name frame first (the
    same move as BPE training — vocabulary-sized, not corpus-sized),
    the pair join runs per blocking bucket, the length band prunes
    before the quadratic-cost levenshtein evaluates, and levenshtein
    itself is a JVM built-in (unit costs, identical in any engine).
    Skew guard (r06 verdict ask #9 — first-token blocking is hub-prone
    on real name corpora: 'mohammed', 'maria'): buckets holding more
    than ``max_bucket_size`` DISTINCT names are dropped from pairing
    entirely, minhash's ``max_bucket_size`` rule — one oversized hub
    would otherwise contribute cap-less bucket^2 pairs. Recall note:
    names in a dropped bucket surface only if another (smaller) block
    of theirs pairs them; production corpora should block on a less
    hub-prone key (first token + soundex, say) before raising the
    cap."""
    from weaviate_spark.cache import register_checkpoint

    # the distinct-name frame is vocabulary-sized BY the design note
    # above — checkpoint it so the bucket census and both join sides
    # read the aggregate instead of re-scanning the corpus per
    # reference (was 4 scans in the executed plan)
    names = register_checkpoint(
        df.select(F.col(name_col).alias("_n"))
        .where(F.col("_n").isNotNull())
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_blk", F.split(F.col("_n"), " ").getItem(0))
        .withColumn("_len", F.length("_n"))
    )
    if max_bucket_size is not None:
        bucket_ok = (
            names.groupBy("_blk")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") <= max_bucket_size)
            .select("_blk")
        )
        names = names.join(bucket_ok, "_blk", "left_semi")
    a = names.select(
        F.col("_n").alias("name_a"), F.col("_c").alias("n_a"),
        F.col("_blk").alias("_ba"), F.col("_len").alias("_la"),
    )
    b = names.select(
        F.col("_n").alias("name_b"), F.col("_c").alias("n_b"),
        F.col("_blk").alias("_bb"), F.col("_len").alias("_lb"),
    )
    return (
        a.join(
            b,
            (F.col("_ba") == F.col("_bb"))
            & (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= max_edit),
        )
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .where(F.col("distance") <= max_edit)
        .select(
            "name_a", "name_b",
            F.col("distance").cast("long").alias("distance"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
    )


def keep_best_quality(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Canonical-survivor selection by QUALITY instead of min-id: given
    the connected-component output (``dedup_clusters``) and a per-doc
    score table, keep the highest-quality member of every cluster
    (score desc, id asc tie-break) — the production dedup policy (the
    min-id rule is reproducible but keeps an arbitrary member; real
    pipelines keep the best-quality copy and drop its near-dups).

    One join on the doc id + one bounded per-cluster window."""
    from pyspark.sql import Window

    j = clusters.select(id_col, "cluster_id").join(
        scores.select(id_col, score_col), id_col
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        j.withColumn("_rk", F.row_number().over(w))
        .select(
            id_col,
            "cluster_id",
            score_col,
            (F.col("_rk") == 1).alias("keep"),
        )
    )


def minhash_bbit_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    b_bits: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
    table_key: tuple | None = None,
) -> DataFrame:
    """b-bit minwise hashing (Li & König WWW'10): keep only the low
    ``b_bits`` of each minhash. Signature storage drops 64/b-fold —
    at 100 TB the K×8-byte signature column is itself a major table,
    and the b-bit form (K bytes at b=8) is what ships through the band
    shuffle. Banding over b-bit values only ADDS candidates vs the
    full-width LSH (collisions merge buckets), so recall never drops;
    the exact-Jaccard verify keeps precision. Alongside the exact
    jaccard, emits the paper's collision-corrected estimator
    Ĵ = (m/K − C)/(1 − C) with C = 2^-b, computable from the b-bit
    signatures alone.

    Returns (id_a, id_b, jaccard, bbit_match, jaccard_bbit_est).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    mod = 1 << b_bits

    if table_key is not None:
        sh, sig, sets = _resolve_index(
            df, id_col, text_col, shingle_n, table_key,
            num_hashes=num_hashes, want_sets=True,
        )
    else:
        sets = None
        sh = register_cache(shingle_df(df, id_col, text_col, shingle_n).cache())
        sig = _sig_agg(sh, num_hashes)
    # the b-bit signature: all downstream stages read ONLY these columns
    bsig = register_cache(sig.select(
        "_doc",
        *[(F.col(f"_mh{i}") % mod).alias(f"_bb{i}") for i in range(num_hashes)],
    ).cache())
    band_cols = []
    for bd in range(bands):
        entry = F.concat_ws(",", *[
            F.concat(F.lit(f"{i}:"), F.col(f"_bb{i}").cast("string"))
            for i in range(bd * rows_per_band, (bd + 1) * rows_per_band)
        ])
        band_cols.append(
            F.struct(F.lit(bd).alias("_band"), F.md5(entry).alias("_bucket"))
        )
    buckets = (
        bsig.select("_doc", F.explode(F.array(*band_cols)).alias("_bb"))
        .select("_doc", F.col("_bb._band").alias("_band"),
                F.col("_bb._bucket").alias("_bucket"))
    )
    sized = buckets.groupBy("_band", "_bucket").agg(
        F.collect_list("_doc").alias("_docs"), F.count(F.lit(1)).alias("_n")
    ).where((F.col("_n") > 1) & (F.col("_n") <= max_bucket_size))
    pairs = (
        sized.select(F.explode("_docs").alias("_a"), F.col("_docs"))
        .select("_a", F.explode("_docs").alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .distinct()
    )
    va = bsig.select(
        F.col("_doc").alias("_a"),
        F.array(*[F.col(f"_bb{i}") for i in range(num_hashes)]).alias("_va"),
    )
    vb = bsig.select(
        F.col("_doc").alias("_b"),
        F.array(*[F.col(f"_bb{i}") for i in range(num_hashes)]).alias("_vb"),
    )
    match = F.size(
        F.filter(
            F.zip_with("_va", "_vb", lambda x, y: x == y), lambda z: z
        )
    )
    c = 1.0 / mod
    verified = jaccard_for_pairs(pairs, sh, sets=sets)
    est = (
        F.round(
            (F.col("bbit_match") / F.lit(float(num_hashes)) - F.lit(c))
            / F.lit(1.0 - c),
            6,
        )
        + F.lit(0.0)
    )
    return (
        verified.where(F.col("jaccard") >= jaccard_threshold)
        .join(va, "_a").join(vb, "_b")
        .withColumn("bbit_match", match)
        .withColumn("jaccard_bbit_est", est)
        .select(
            F.col("_a").alias("id_a"), F.col("_b").alias("id_b"),
            "jaccard", "bbit_match", "jaccard_bbit_est",
        )
    )
