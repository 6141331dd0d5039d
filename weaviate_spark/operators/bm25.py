"""BM25 / BM25F keyword search (SURVEY §2.5).

Semantics from the reference (adapters/repos/db/inverted/bm25_searcher.go,
terms/terms.go):

* idf(term)  = ln(1 + (N - n + 0.5)/(n + 0.5)), N clamped to >= n
  (terms/terms.go:64-72 Idf). N is the COLLECTION-WIDE object count
  (bm25_searcher.go:235-239 objectsBucket.CountApproximate — NOT the
  count of docs holding the property, and NOT post-filter), and n is the
  term's document frequency over the UNFILTERED corpus (:885-893 — the
  inverted index row length, which includes filter-excluded docs).
  A where-filter restricts only the candidate set being scored.
* tf(doc,prop) = freq / (freq + k1*(1 - b + b*propLen/avgPropLen))
  (terms/terms.go:242-249 Score), defaults k1=1.2 b=0.75
  (usecases/config/config_handler.go:57-58).
* per-term-per-property contribution = tf * idf * propertyBoost;
  a document's score is the sum over query terms and searched
  properties (BM25F additive form).
* avgPropLen is the mean of the per-property mean lengths across all
  searched properties (bm25_searcher.go:408-446) — NOT per-property.
* query analysis = fold -> tokenize -> drop stopwords
  (analyze.go:216-242 AnalyzeAndCountDuplicates); duplicate query terms
  boost frequency (terms.go:59 freq*boost). INDEXED tokens keep
  stopwords (analyzer.go:178-180), so doc lengths and term frequencies
  include them — only the query side drops them.
* searchOperator Or (default) / And, And = doc must match every query
  term in at least one property; minimumOrTokensMatch = Or with a
  floor on distinct matched terms (base_search.proto:48-58).
* top-k ties: score desc, then `_id` asc (sortby_scores.go / §4.3).

Execution strategy (batch, WAND-free): the reference's WAND/BlockMax
pruning exists to avoid scoring every doc on a serving path; a batch
engine scores the full candidate set — same results by construction
(SURVEY §4.1). The plan:

    tokens   = explode(tokenize(prop))          -- narrow
    wide     = groupBy(id).agg(len, f_t ...)    -- ONE shuffle on id
    stats    = N, avgdl, df_t — from the driver-side CorpusStats when
               given (the prop_length_tracker/inverted-statistics
               analogue; build_bm25_index + load_stats), else one tiny
               agg over wide
    score    = per-row expression over wide     -- narrow
    topk     = orderBy(score desc, id asc).limit(k)  -- TakeOrdered

Scale notes: with the materialized index tables (build_bm25_index,
refreshed on ingest like the reference's prop length tracker + LSM
inverted segments), a keyword query tokenizes NOTHING — term
frequencies AND each document's property length come from one
term-filtered postings lookup (the reference keeps propLen next to each
posting, terms.go:244). The build tokenizes each property once, into
one postings frame materialized once; the corpus statistics (N, avgdl
per property, the term_df table) live on the driver, loaded once per
source stamp, so a read looks up its terms without a Spark job. In a
session the postings are one cached frame hash-partitioned by document:
the per-document aggregation reuses that partitioning, so a read is one
stage with no exchange; a where-filter semi-joins the candidate ids.
Without the tables, the one wide aggregation over the corpus serves
both stats and scoring (cached, released on the next query via
release_caches).
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from dataclasses import dataclass, replace
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weaviate_spark.filters import Clause, apply_where
from weaviate_spark.functions.text import (
    StopwordConfig,
    sql_tokens,
    tokenize_for_class,
)
from weaviate_spark import registry
from weaviate_spark.sources import artifacts
from weaviate_spark.sources.tables import load_table, source_paths

K1_DEFAULT = 1.2
B_DEFAULT = 0.75
AVGDL_FALLBACK = 40.0  # bm25_searcher.go:452-453

# per-query scratch caches live in weaviate_spark.cache (released at every
# top-level query entry); re-exported here for backward compatibility
from weaviate_spark.cache import ensure_min_partitions, register_cache, release_caches, session_key  # noqa: E402,F401


@dataclass
class BM25Prop:
    name: str
    boost: float = 1.0          # "prop^2" syntax in the API
    tokenization: str = "word"


@dataclass(frozen=True)
class CorpusStats:
    """Materialized corpus statistics — the Spark analogue of the
    reference's propLengthTracker + inverted-index term statistics.

    When `postings` is attached (the full inverted-index analogue),
    query-time scoring never tokenizes ANY document: term frequencies
    and document lengths come from one term-filtered postings lookup —
    the same work the reference's keyword search does against its LSM
    inverted segments, whose entries carry the property length. On disk
    postings are partitioned by term bucket and lengths live in a doclen
    table beside them; see ``_postings_handle`` for how the two meet in
    a session. Without postings, scoring recomputes the statistics from
    the corpus.

    ``term_df`` is the whole (prop, term, df) table on the driver, as
    Arrow: a read looks up its own terms with ``doc_freq``, no job."""

    n_docs: float                               # collection-wide object count
    avg_len: dict[str, float]                   # prop -> mean token count
    term_df: "pa.Table"                         # (prop, term, df)
    postings: Optional[DataFrame] = None        # (prop, _doc, _term, _f, _len)

    def doc_freq(self, prop: str, terms: Sequence[str]) -> dict[str, float]:
        """term -> document frequency in ``prop`` (0 for an unseen
        term). term_df may hold several rows per key — the base build
        plus one delta row per incremental append — so rows are summed."""
        import pyarrow.compute as pc

        out = dict.fromkeys(terms, 0.0)
        for r in self.term_df.filter((pc.field("prop") == prop)
                                     & pc.field("term").isin(list(terms))).to_pylist():
            out[r["term"]] += r["df"]
        return out


@dataclass
class BM25Spec:
    collection: str
    query: str
    properties: Sequence[BM25Prop]
    id_col: str                  # unique doc id column
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    limit: int = 100
    search_operator: str = "Or"  # Or | And
    minimum_or_tokens_match: int = 0
    where: Optional[Clause] = None
    # fold -> tokenize -> drop stopwords on the QUERY (analyze.go:216-242);
    # preset "en" is the reference's class-config default
    stopwords: Optional[StopwordConfig] = StopwordConfig()
    fold: bool = False
    stats: Optional[CorpusStats] = None
    round_digits: Optional[int] = 6  # deterministic cross-engine hashing


def query_terms(
    query: str,
    tokenization: str = "word",
    stopwords: StopwordConfig | None = StopwordConfig(),
    fold: bool = False,
    class_name: str = "",
) -> dict[str, float]:
    """term -> boost (duplicate count) after fold + stopword removal —
    shared by the Spark path and every oracle-SQL generator so both
    engines see the identical query analysis. ``class_name`` consults
    the class's user dictionary (TokenizeForClass, analyze.go:88) —
    with none registered this is exactly tokenize_py."""
    from weaviate_spark.functions.text import tokenize_for_class_py

    toks = tokenize_for_class_py(query, tokenization, class_name, fold=fold)
    if stopwords is not None:
        sw = stopwords.words()
        toks = [t for t in toks if t not in sw]
    return {t: float(toks.count(t)) for t in set(toks)}


def build_bm25_index(
    corpus: DataFrame,
    properties: Sequence[BM25Prop],
    id_col: str,
    fold: bool = False,
    class_name: str = "",
) -> tuple["pa.Table", "pa.Table", DataFrame]:
    """Full inverted-index analogue over the UNFILTERED corpus:

    corpus_stats: (prop, n_docs, n_docs_with_prop, sum_len) — mergeable
                  sums, so incremental appends are delta rows
    term_df:      (prop, term, df) — one row per distinct term
    postings:     (prop, _doc, _term, _f, _len) — per-doc term
                  frequencies, each with the document's token count in
                  that property (the reference's propLen)

    Each property is tokenized ONCE, into one postings frame that is
    materialized once (localCheckpoint), clustered by term bucket;
    term_df derives from it, and so does the written doclen table
    (_write_index_tables). The corpus statistics are metrics observed
    on that same pass (no job of their own), and term_df is collected
    once: both come back as driver-side Arrow tables. Doc ids are
    unique (``id_col``), so a row with tokens is one document holding
    the property. Persist them as tables and refresh on ingest, exactly
    like the reference's prop length tracker + LSM inverted segments;
    query-time BM25 then never tokenizes a document.
    """
    import pyarrow as pa
    from pyspark.sql import Observation

    toks = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("_doc"),
        *[tokenize_for_class(F.col(p.name), p.tokenization, class_name,
                             fold=fold).alias(f"_t{i}")
          for i, p in enumerate(properties)],
    )
    seen = Observation()
    n_toks = [f"CASE WHEN size(_t{i}) > 0 THEN size(_t{i}) ELSE 0 END"
              for i in range(len(properties))]
    toks = toks.observe(
        seen, F.count(F.lit(1)).alias("n"),
        *[F.expr(f"count_if({n} > 0)").alias(f"nd{i}") for i, n in enumerate(n_toks)],
        *[F.expr(f"sum({n})").alias(f"sl{i}") for i, n in enumerate(n_toks)],
    )
    # clustered by term bucket, the partition column of the written
    # table: the aggregation needs no shuffle of its own, and the write
    # (_write_index_tables) none either. _len rides along as an
    # aggregate (not a key), so the written rows are unchanged by it.
    post = (
        toks.select("_doc", F.inline(F.array(*[
            F.struct(F.lit(p.name).alias("prop"), F.col(f"_t{i}").alias("_toks"),
                     F.size(f"_t{i}").cast("long").alias("_len"))
            for i, p in enumerate(properties)])))
        .select("prop", "_doc", "_len", F.explode("_toks").alias("_term"))
        .withColumn("_tb", F.crc32(F.col("_term")) % TERM_BUCKETS)
        .repartition("_tb")
        .groupBy("_tb", "prop", "_doc", "_term").agg(
            F.count(F.lit(1)).alias("_f"), F.max("_len").alias("_len"))
        .localCheckpoint(eager=True)
        .select(*POSTINGS_COLS)
    )
    got = seen.get
    corpus_stats = pa.table({
        "prop": pa.array([p.name for p in properties], pa.string()),
        "n_docs": pa.array([got["n"]] * len(properties), pa.int64()),
        "n_docs_with_prop": pa.array(
            [got[f"nd{i}"] for i in range(len(properties))], pa.int64()),
        "sum_len": pa.array(
            [got[f"sl{i}"] or 0 for i in range(len(properties))], pa.int64()),
    })
    term_df = (
        post.groupBy("prop", F.col("_term").alias("term"))
        .agg(F.count(F.lit(1)).alias("df")).toArrow()
    )
    return corpus_stats, term_df, post


def load_stats(corpus_stats: "pa.Table", term_df: "pa.Table") -> CorpusStats:
    """The driver-side statistics of an index from its two small tables.

    Both tables may carry MULTIPLE rows per key — the base build plus
    one delta row per incremental append (advance_bm25_artifacts); the
    stored stats are mergeable sums (sum_len, not avg_len), so loading
    is a per-key sum followed by one division for the mean (term_df
    rows are summed per lookup, CorpusStats.doc_freq)."""
    per: dict[str, list[int]] = {}
    for r in corpus_stats.to_pylist():
        a = per.setdefault(r["prop"], [0, 0, 0])
        a[0] += r["n_docs"]
        a[1] += r["n_docs_with_prop"]
        a[2] += r["sum_len"]
    n_docs = float(next(iter(per.values()))[0]) if per else 0.0
    avg_len = {p: (a[2] / a[1] if a[1] else 0.0) for p, a in per.items()}
    return CorpusStats(n_docs=n_docs, avg_len=avg_len, term_df=term_df)


# Materialized stats tables — the Spark analogue of the reference's
# long-lived propLengthTracker + inverted-index statistics. The four
# tables are WRITTEN parquet under .artifacts/bm25 (postings
# partitioned by a 64-way term hash bucket; doclen partitioned by
# prop; the two small stats
# tables written and read on the driver), built once at first use per
# (source fingerprint, property set) and SURVIVING the session —
# exactly like the reference's LSM inverted segments. The session
# handles are a registry entry stamped with the source fingerprint: a
# write to the table, through crud or out of band, makes the next query
# reload them (an appended stream's advanced artifact) or rebuild them.
# The layout, commit marker, lock and GC are sources/artifacts.py's.
BM25_ARTIFACT_ROOT = os.path.join(artifacts.ROOT, "bm25")
TERM_BUCKETS = 64
# bump on any stored-table schema change: the version feeds the artifact
# path hash, so readers never load a layout written by older code
# (v2: corpus_stats stores mergeable sum_len instead of avg_len, and the
# props.json manifest enables incremental advance)
ARTIFACT_FORMAT = 2
# the postings handle every read scores from
POSTINGS_COLS = ("prop", "_doc", "_term", "_f", "_len")


def _load_or_build_index_tables(
    corpus: DataFrame, spec: "BM25Spec", table_key: tuple
) -> tuple[CorpusStats, DataFrame]:
    """(driver-side statistics, postings handle) of the index: read
    from the written artifact if present, else built and written. A
    reload reads the two small tables on the driver and the two large
    ones as parquet scans with term / prop pushdown — the plan never
    re-tokenizes the corpus."""
    from weaviate_spark.functions.text import user_dict_digest

    sf_dir, collection = table_key
    props_key = tuple(sorted((p.name, p.tokenization) for p in spec.properties))
    root = artifacts.artifact_dir(
        BM25_ARTIFACT_ROOT, sf_dir, collection,
        (props_key, spec.fold, ARTIFACT_FORMAT, user_dict_digest(spec.collection)))
    if root is None:
        # synthetic / in-memory corpus: session-scoped build, no artifact
        cs, tdf, post = build_bm25_index(
            corpus, spec.properties, spec.id_col, spec.fold,
            class_name=spec.collection)
        return load_stats(cs, tdf), _postings_handle(post)
    built = artifacts.build(root, lambda r: _write_index_artifact(corpus, spec, r))
    if built is not None:
        return built
    import pyarrow.parquet as pq

    stats = load_stats(pq.read_table(f"{root}/corpus_stats"),
                       pq.read_table(f"{root}/term_df"))
    return stats, _read_postings(corpus.sparkSession, root)


def _postings_handle(post: DataFrame) -> DataFrame:
    """The session's postings frame ``POSTINGS_COLS``, cached once and
    hash-partitioned by document: a read's per-document aggregation
    reuses that partitioning, so it runs as one stage with no exchange.
    The cache fills at the first read."""
    return post.select(*POSTINGS_COLS).repartition("_doc").cache()


def _read_postings(spark: SparkSession, root: str) -> DataFrame:
    """The session handle of a written artifact: its postings with each
    document's length joined from the doclen table, cached and
    clustered by document (the local analogue of OS page cache +
    executor block cache)."""
    return _postings_handle(spark.read.parquet(f"{root}/postings").join(
        spark.read.parquet(f"{root}/doclen"), ["prop", "_doc"]))


def _write_small(table: "pa.Table", path: str, mode: str) -> None:
    """Write (``mode`` overwrite) or append one file of a small index
    table on the driver, without a Spark job."""
    import pyarrow.parquet as pq

    if mode == "overwrite":
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/part-{uuid.uuid4().hex}.parquet",
                   compression="zstd")


def _summed_per_key(path: str, keys: list[str]) -> "pa.Table":
    """A small index table with its delta rows merged: one row per key,
    every other column summed."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    vals = [c for c in t.column_names if c not in keys]
    merged = t.group_by(keys).aggregate([(c, "sum") for c in vals])
    return merged.select(keys + [f"{c}_sum" for c in vals]).rename_columns(keys + vals)


def _write_index_tables(root: str, mode: str, cs: "pa.Table", tdf: "pa.Table",
                        post: DataFrame) -> None:
    """Write (``mode`` overwrite) or append the four index tables:
    postings partitioned by a term hash bucket, doclen (derived from
    the postings) by prop. ``post`` comes from build_bm25_index,
    already clustered by bucket, so each bucket is written by one task,
    as one file. ``_len`` is not written with the postings: doclen holds
    it once per document."""
    _write_small(cs, f"{root}/corpus_stats", mode)
    _write_small(tdf, f"{root}/term_df", mode)
    (
        post.select("prop", "_doc", "_term", "_f")
        .withColumn("_tb", F.crc32(F.col("_term")) % TERM_BUCKETS)
        .write.partitionBy("_tb").mode(mode)
        .parquet(f"{root}/postings")
    )
    (
        post.groupBy("prop", "_doc").agg(F.sum("_f").alias("_len"))
        .write.partitionBy("prop").mode(mode).parquet(f"{root}/doclen")
    )


def _write_index_artifact(
    corpus: DataFrame, spec: "BM25Spec", root: str
) -> tuple[CorpusStats, DataFrame]:
    import json

    cs, tdf, post = build_bm25_index(
        corpus, spec.properties, spec.id_col, spec.fold,
        class_name=spec.collection,
    )
    _write_index_tables(root, "overwrite", cs, tdf, post)
    # manifest: lets advance_bm25_artifacts rebuild THIS property
    # set's delta frames for an appended batch (props_h is a hash —
    # not invertible without it)
    with open(f"{root}/props.json", "w") as mf:
        json.dump({
            "properties": [[p.name, p.tokenization] for p in spec.properties],
            "id_col": spec.id_col,
            "fold": spec.fold,
        }, mf)
    # the build's postings already carry _len: no join with doclen
    return load_stats(cs, tdf), _postings_handle(post)


def compact_bm25_artifacts(
    spark: SparkSession, sf_dir: str, collection: str
) -> int:
    """Rewrite a collection's advanced artifacts into single-segment
    form: term_df/corpus_stats delta rows merge into one row per key,
    postings/doclen small segment files rewrite into per-partition
    files. The LSM-compaction step for the incremental path — run it
    periodically on a heavily-appended collection so per-query reads
    stay a few files per term bucket. Returns the number of property
    sets compacted. Contents are value-identical before and after
    (the driver-side stats sum per key either way; tests pin score
    equality)."""
    fp_root = artifacts.fingerprint_dir(BM25_ARTIFACT_ROOT, sf_dir, collection)
    if fp_root is None or not os.path.isdir(fp_root):
        return 0
    with artifacts.LOCK:
        return _compact_under(spark, sf_dir, collection, fp_root)


def _compact_under(spark, sf_dir: str, collection: str, fp_root: str) -> int:
    n = 0
    for props_h in os.listdir(fp_root):
        if "." in props_h:
            # '<h>.compacting' / '<h>.old' leftovers from a crashed
            # compaction are NOT property sets — clean them up (the
            # committed '<h>' dir, when it survived, is authoritative;
            # when it did not, the next query rebuilds from the table)
            shutil.rmtree(f"{fp_root}/{props_h}", ignore_errors=True)
            continue
        root = f"{fp_root}/{props_h}"
        if not artifacts.committed(root):
            continue
        post = spark.read.parquet(f"{root}/postings")
        dl = spark.read.parquet(f"{root}/doclen")
        staging = f"{root}.compacting"
        shutil.rmtree(staging, ignore_errors=True)
        for name, keys in (("corpus_stats", ["prop"]), ("term_df", ["prop", "term"])):
            _write_small(_summed_per_key(f"{root}/{name}", keys),
                         f"{staging}/{name}", "overwrite")
        (
            post.repartition(F.col("_tb"))
            .write.partitionBy("_tb").parquet(f"{staging}/postings")
        )
        dl.repartition("prop").write.partitionBy("prop").parquet(f"{staging}/doclen")
        shutil.copy(f"{root}/props.json", f"{staging}/props.json")
        artifacts.mark(staging)
        # release cached handles BEFORE the swap so no query resolves a
        # frame rooted in the dir being replaced; a crash between the
        # two renames leaves only dotted dirs (cleaned above) and the
        # next query rebuilds from the table — never a half-swapped
        # committed-looking artifact
        registry.release(registry.table_path(sf_dir, collection), "bm25")
        backup = f"{root}.old"
        os.rename(root, backup)
        os.rename(staging, root)
        shutil.rmtree(backup)
        n += 1
    if n:
        registry.release(registry.table_path(sf_dir, collection), "bm25")
    return n


def advance_bm25_artifacts(
    batch_df: DataFrame,
    sf_dir: str,
    collection: str,
    fp_before: str | None,
) -> None:
    """INCREMENTAL inverted-index maintenance for an APPEND of
    `batch_df` to `<sf_dir>/<collection>.parquet` — the reference
    refreshes its prop-length tracker and writes new LSM inverted
    segments per batch (adapters/repos/db/inverted/shard_write_
    inverted.go) instead of re-tokenizing the shard; this is the same
    move on the written artifact tables:

    * postings/doclen: append the batch's rows (same term-bucket / prop
      partitioning — new parquet segment files, O(batch))
    * term_df / corpus_stats: append DELTA rows; the stored stats are
      mergeable sums, summed per key on the driver (O(batch) write,
      read once per stamp)
    * the artifact dir is renamed from the pre-write source fingerprint
      to the post-write one (O(1)): the artifact is re-stamped, so the
      session handles (stale by their own stamp) reload the ADVANCED
      artifact at the next query instead of re-tokenizing the corpus.

    ``fp_before`` is the source fingerprint captured BEFORE the batch
    was appended to the table (the sink captures it; by call time the
    live fingerprint already reflects the append). No-op when the
    collection has no committed artifacts. Append-only contract: a
    re-arrived id would double-count df/doclen — update streams are not
    advanced (the upsert sink does not call this), so the next query
    rebuilds from the merged table."""
    import json

    if fp_before is None:
        return
    new_root = artifacts.fingerprint_dir(BM25_ARTIFACT_ROOT, sf_dir, collection)
    old_root = artifacts.fingerprint_dir(BM25_ARTIFACT_ROOT, sf_dir, collection,
                                         fp_before)
    if new_root is None or new_root == old_root:
        return
    with artifacts.LOCK:
        if not os.path.isdir(old_root):
            return
        if os.path.isdir(new_root):
            # a build for the post-append fingerprint already happened
            # (or is committed): it was built FROM the appended table,
            # so it already covers the batch
            return
        try:
            os.rename(old_root, new_root)
        except OSError:
            # old_root vanished (GC by a concurrent build) — the next
            # query rebuilds from the full table; nothing to advance
            return
        for props_h in os.listdir(new_root):
            if "." in props_h:
                continue  # crashed-compaction leftovers, not prop sets
            root = f"{new_root}/{props_h}"
            manifest = f"{root}/props.json"
            if not (artifacts.committed(root) and os.path.exists(manifest)):
                continue
            with open(manifest) as mf:
                m = json.load(mf)
            props = [BM25Prop(name=p[0], tokenization=p[1]) for p in m["properties"]]
            cs, tdf, post = build_bm25_index(
                batch_df, props, m["id_col"], m["fold"],
                class_name=collection,
            )
            # uncommitted while the four appends land: a crash mid-append
            # makes the next query rebuild, not serve half-advanced stats
            with artifacts.uncommitted(root):
                _write_index_tables(root, "append", cs, tdf, post)


def with_materialized_stats(
    spec: BM25Spec, corpus: DataFrame, table_key: tuple
) -> BM25Spec:
    """Return a spec whose ``stats`` (including the postings handle,
    with each document's length on every entry) come from the
    session-level materialized tables (built on first use). Query-time
    cost after the build: a driver-side lookup of the query terms'
    document frequencies plus a term-filtered postings lookup — no
    Spark job before the query's own, no document tokenized, no corpus
    scan."""
    if spec.stats is not None:
        return spec
    from weaviate_spark.functions.text import user_dict_digest

    spec = _resolve_spec(spec)
    props_key = tuple(sorted((p.name, p.tokenization) for p in spec.properties))
    # the session handles key on the user-dict digest too: registering /
    # removing a class dict re-tokenizes the corpus, so cached handles
    # from the other dict state must not be served (AddCustomDict
    # rebuilds the reference's tokenizers the same way)
    variant = (*table_key[2:], props_key, spec.fold,
               user_dict_digest(spec.collection))
    # the postings handle sits beside the stats so the registry releases it
    stats, post = registry.resolve(
        corpus.sparkSession, "bm25", source_paths(*table_key[:2]), variant,
        lambda: _load_or_build_index_tables(corpus, spec, table_key))
    return replace(spec, stats=replace(stats, postings=post))


def _resolve_spec(spec: BM25Spec) -> BM25Spec:
    """Normalize every property's tokenization through the
    retokenize-migration overlay, so the stats-table cache key, the
    artifact fingerprint, the document-side tokenization, and the query
    analysis all agree on ONE generation — a FINALIZING-window query
    can never analyze NEW but read the OLD artifact (the exact
    misalignment inverted/tokenization.go's pinning resolver exists to
    prevent)."""
    from weaviate_spark.sources.retokenize import resolve_tokenization

    resolved = [
        replace(p, tokenization=resolve_tokenization(
            spec.collection, p.name, p.tokenization))
        for p in spec.properties
    ]
    if all(a.tokenization == b.tokenization
           for a, b in zip(resolved, spec.properties)):
        return spec
    return replace(spec, properties=resolved)


def bm25_search(
    spark: SparkSession, sf_dir: str, spec: BM25Spec, use_stats_tables: bool = True
) -> DataFrame:
    """Top-k BM25F search; returns (id_col, _score) plus match count.

    Default path feeds scoring from the materialized index tables, so
    no document is tokenized per query; pass
    ``use_stats_tables=False`` to recompute statistics from the corpus
    inside this query (the two paths produce identical scores —
    tests/test_bm25.py pins it, and the driver oracle is always the
    recompute formulation)."""
    release_caches()
    spec = _resolve_spec(spec)
    full = load_table(spark, sf_dir, spec.collection)
    cand = apply_where(full, spec.where)
    if use_stats_tables:
        spec = with_materialized_stats(spec, full, (sf_dir, spec.collection))
    return bm25_score_df(cand, spec, corpus_df=full).orderBy(
        F.col("_score").desc(), F.col(spec.id_col).asc()
    ).limit(spec.limit)


def _query_analysis(spec: BM25Spec) -> dict[str, dict[str, float]]:
    """prop name -> (term -> boost). Tokenization resolves through the
    retokenize-migration overlay (inverted/tokenization.go's
    TokenizationResolver): a query landing in a FINALIZING window
    analyzes against the NEW tokenization, matching the already-built
    new-generation artifact."""
    from weaviate_spark.sources.retokenize import resolve_tokenization

    return {
        p.name: query_terms(
            spec.query,
            resolve_tokenization(spec.collection, p.name, p.tokenization),
            spec.stopwords, spec.fold, class_name=spec.collection)
        for p in spec.properties
    }


def bm25_score_df(
    df: DataFrame, spec: BM25Spec, corpus_df: DataFrame | None = None
) -> DataFrame:
    """Score every candidate document (no limit); building block for
    hybrid fusion and aggregation-with-objectLimit.

    `df` is the candidate set (post-where); `corpus_df` the unfiltered
    collection that corpus statistics are computed over (defaults to
    `df`; pass it whenever a where-filter is active — reference
    semantics score candidates against COLLECTION statistics).

    Plan shape (per property): ONE tokenize+explode scan of the corpus ->
    ONE shuffle: ``groupBy(doc).agg(count(*) AS len, sum(term = t_i) AS
    f_i ...)`` — doc length and all per-term frequencies come out of the
    same aggregation (wide form), so only doc rows (not token rows x
    terms) move. With spec.stats set (the materialized tables and their
    postings), no document is tokenized: see the inverted-index path.
    """
    id_col = spec.id_col
    if corpus_df is None:
        corpus_df = df
    postings = spec.stats.postings if spec.stats is not None else None

    analysis = _query_analysis(spec)
    n_docs_collection: float | None = (
        spec.stats.n_docs if spec.stats is not None else None
    )

    per_prop: list[tuple[BM25Prop, DataFrame, dict, dict, float]] = []
    for prop in spec.properties:
        qboost = analysis[prop.name]
        if not qboost:
            continue
        terms = sorted(qboost)
        if postings is not None:
            # inverted-index path: NO document is tokenized at query
            # time — term frequencies and lengths come from the
            # term-filtered postings lookup; only docs holding >= 1
            # query term ever materialize (docs without matches can't
            # score, same result set)
            post = postings.where(
                (F.col("prop") == prop.name) & F.col("_term").isin(terms)
            )
            # F.expr strings: each per-term aggregate is ONE py4j call
            # (the composed F.sum(F.when(...)) form cost ~8 round trips
            # per term of pure driver latency — guide §1 measured ~1 ms
            # per py4j command here). Terms are word-tokenized
            # [\p{L}\p{N}]+ runs, so the quoted literal needs no escaping.
            # _len is one value per (prop, _doc); grouping by _doc reuses
            # the cached handle's partitioning (no exchange).
            wide = post.groupBy("_doc").agg(*[
                F.expr(f"sum(CASE WHEN _term = '{t}' THEN _f ELSE 0 END) AS _f{i}")
                for i, t in enumerate(terms)
            ], F.expr("max(_len) AS _len"))
            if spec.where is not None or corpus_df is not df:
                wide = wide.join(
                    df.select(F.col(id_col).alias("_doc")), "_doc", "semi"
                )
            per_prop.append((prop, wide, qboost,
                             spec.stats.doc_freq(prop.name, terms),
                             spec.stats.avg_len.get(prop.name, 0.0)))
            continue
        # recompute path: the corpus is tokenized and its wide agg also
        # yields the stats. Single-file inputs arrive as 1 partition —
        # tokenization is the CPU-heavy stage, spread it (no-op when the
        # input is already split)
        base = ensure_min_partitions(corpus_df)
        toks = base.select(
            F.col(id_col).alias("_doc"),
            F.explode(tokenize_for_class(
                F.col(prop.name), prop.tokenization, spec.collection,
                fold=spec.fold)).alias("_term"),
        )
        wide = toks.groupBy("_doc").agg(
            F.count(F.lit(1)).alias("_len"),
            *[
                F.expr(f"sum(CASE WHEN _term = '{t}' THEN 1 ELSE 0 END) AS _f{i}")
                for i, t in enumerate(terms)
            ],
        )

        # per-query stats over the unfiltered corpus: cache the wide
        # frame — the stats agg and the scoring projection both read it
        wide = wide.cache()
        register_cache(wide)
        srow = wide.agg(
            F.avg("_len").alias("_avglen"),
            *[
                F.sum(F.when(F.col(f"_f{i}") > 0, 1).otherwise(0)).alias(f"_n{i}")
                for i in range(len(terms))
            ],
        ).collect()[0]
        n_t = {t: float(srow[f"_n{i}"] or 0) for i, t in enumerate(terms)}
        avg = float(srow["_avglen"] or 0.0)
        if corpus_df is not df:
            # scoring reads only candidate docs out of the cached corpus
            # aggregation (ids semi-join; no second tokenize pass)
            wide = wide.join(
                df.select(F.col(id_col).alias("_doc")), "_doc", "semi"
            )
        per_prop.append((prop, wide, qboost, n_t, avg))

    if not per_prop:
        return df.select(F.col(id_col)).where(F.lit(False)).withColumn(
            "_score", F.lit(0.0)
        ).withColumn("_terms_matched", F.lit(0))

    if n_docs_collection is None:
        # collection-wide object count (bm25_searcher.go:235-239)
        n_docs_collection = float(corpus_df.count())

    # avgPropLen = mean of per-property means (bm25_searcher.go:408-446);
    # NaN/0 fallback is 40.0 (:452-453)
    means = [avg for *_, avg in per_prop if avg > 0]
    avgdl = sum(means) / len(means) if means else AVGDL_FALLBACK

    contrib_frames = []
    for prop, wide, qboost, n_t, _avg in per_prop:
        terms = sorted(qboost)
        # The per-term score/match expressions are assembled as ONE SQL
        # string each and parsed JVM-side (F.expr): the composed-F.*
        # form cost ~20 py4j round trips per term of driver build time.
        # Every float literal carries the D suffix (bare decimals parse
        # as DECIMAL in Spark SQL); repr() keeps the exact double.
        # Values are identical: same left-assoc additions, same CASE
        # arms, same literals (oracle hash-pinned).
        score_terms: list[str] = []
        hit_terms: list[str] = []
        for i, t in enumerate(terms):
            n = n_t[t]
            if n <= 0:
                continue
            # idf with N clamped to >= n (terms.go:67-71)
            N = max(n_docs_collection, n)
            idf = math.log(1.0 + (N - n + 0.5) / (n + 0.5))
            tq = t.replace("'", "''")
            freq = f"(CAST(_f{i} AS DOUBLE) * {qboost[t]!r}D)"
            tf_norm = (
                f"({freq} / ({freq} + {spec.k1!r}D * "
                f"({1 - spec.b!r}D + ({spec.b!r}D * _len) / {avgdl!r}D)))"
            )
            score_terms.append(
                f"CASE WHEN _f{i} > 0 THEN {tf_norm} * "
                f"{idf * prop.boost!r}D ELSE 0.0D END"
            )
            hit_terms.append(f"CASE WHEN _f{i} > 0 THEN '{tq}' END")
        if not score_terms:
            continue
        score_sql = " + ".join(score_terms)
        matched_sql = (
            "filter(array(" + ", ".join(hit_terms) + "), x -> x IS NOT NULL)"
        )
        contrib_frames.append(
            wide.where(F.expr(f"size({matched_sql}) > 0")).select(
                "_doc",
                F.expr(score_sql).alias("_pscore"),
                F.expr(matched_sql).alias("_pterms"),
            )
        )

    if not contrib_frames:
        return df.select(F.col(id_col)).where(F.lit(False)).withColumn(
            "_score", F.lit(0.0)
        ).withColumn("_terms_matched", F.lit(0))

    allc = contrib_frames[0]
    for c in contrib_frames[1:]:
        allc = allc.unionByName(c)

    if len(contrib_frames) == 1:
        out = allc.select(
            "_doc",
            F.col("_pscore").alias("_score"),
            F.size("_pterms").alias("_terms_matched"),
        )
    else:
        out = allc.groupBy("_doc").agg(
            F.sum("_pscore").alias("_score"),
            F.size(F.array_distinct(F.flatten(F.collect_list("_pterms")))).alias(
                "_terms_matched"
            ),
        )

    n_query_terms = len(set().union(*[set(analysis[p.name]) for p in spec.properties]))
    if spec.search_operator == "And":
        out = out.where(F.col("_terms_matched") == n_query_terms)
    elif spec.minimum_or_tokens_match > 0:
        out = out.where(
            F.col("_terms_matched") >= min(spec.minimum_or_tokens_match, n_query_terms)
        )

    if spec.round_digits is not None:
        out = out.withColumn("_score", F.round("_score", spec.round_digits))
    return out.withColumnRenamed("_doc", spec.id_col)


def bm25_oracle_sql(
    table: str,
    text_col: str,
    id_col: str,
    query: str,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    limit: int = 100,
    search_operator: str = "Or",
    minimum_or_tokens_match: int = 0,
    tokenization: str = "word",
    stopwords: StopwordConfig | None = StopwordConfig(),
    fold: bool = False,
    where_sql: str | None = None,
) -> str:
    """DuckDB SQL computing the identical single-property BM25 result —
    the generated-oracle counterpart of bm25_search. Statistics (N,
    avgdl, df) come from the full table; `where_sql` restricts only the
    scored candidate set (reference semantics)."""
    qboost = query_terms(query, tokenization, stopwords, fold)
    if not qboost:
        return (
            f"SELECT {id_col}, 0.0 AS _score, 0 AS _terms_matched "
            f"FROM {table} WHERE false"
        )
    terms_sql = ", ".join(f"('{t}', {c})" for t, c in sorted(qboost.items()))
    n_terms = len(qboost)
    if search_operator == "And":
        having = f"HAVING count(DISTINCT _term) = {n_terms}"
    elif minimum_or_tokens_match > 0:
        having = f"HAVING count(DISTINCT _term) >= {min(minimum_or_tokens_match, n_terms)}"
    else:
        having = ""
    toks_expr = sql_tokens(text_col, tokenization, fold=fold)
    cand = f"SELECT {id_col} AS _doc FROM {table}"
    if where_sql:
        cand += f" WHERE {where_sql}"
    return f"""
WITH toks AS (
  SELECT {id_col} AS _doc, unnest({toks_expr}) AS _term
  FROM {table}
),
doclen AS (SELECT _doc, count(*) AS _len FROM toks GROUP BY _doc),
stats AS (
  SELECT (SELECT count(*) FROM {table}) AS _ndocs,
         (SELECT avg(_len) FROM doclen) AS _avgdl
),
cand AS ({cand}),
qterms(_term, _boost) AS (VALUES {terms_sql}),
tf_all AS (
  SELECT _doc, toks._term, count(*) * _boost AS _freq
  FROM toks JOIN qterms ON toks._term = qterms._term
  GROUP BY _doc, toks._term, _boost
),
n_t AS (SELECT _term, count(*) AS _n FROM tf_all GROUP BY _term),
tf AS (SELECT tf_all.* FROM tf_all JOIN cand USING (_doc)),
contrib AS (
  SELECT tf._doc, tf._term,
    (tf._freq / (tf._freq + {k1} * (1 - {b} + {b} * doclen._len / stats._avgdl)))
    * ln(1 + (greatest(CAST(stats._ndocs AS DOUBLE), _n) - _n + 0.5) / (_n + 0.5)) AS _c
  FROM tf
  JOIN doclen ON tf._doc = doclen._doc
  JOIN n_t ON tf._term = n_t._term
  CROSS JOIN stats
)
SELECT _doc AS {id_col}, round(sum(_c), 6) AS _score,
       CAST(count(DISTINCT _term) AS BIGINT) AS _terms_matched
FROM contrib GROUP BY _doc {having}
ORDER BY _score DESC, {id_col} ASC LIMIT {limit}
"""
