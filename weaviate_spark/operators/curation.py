"""Corpus-curation operators: PII handling and benchmark
decontamination (LLM-pipeline extras alongside dedup/textstats).

Everything is pure column expressions with regex dialects chosen to
behave identically in Spark (Java regex) and DuckDB (RE2) — both
engines in the oracle loop see the same matches, so the operators are
value-hash-checkable.

* ``pii_profile``  — per-doc counts of email / phone-shaped / IPv4
  matches. Narrow map; at 100 TB it's a single codegen'd pass.
* ``pii_scrub``    — masks each PII class with a typed placeholder
  (chained regexp_replace, order fixed: emails first so phone-like
  digit runs inside addresses don't double-fire).
* ``contamination_scores`` — per-document fraction of word n-gram
  shingles that appear in a BENCHMARK corpus's shingle set (the
  standard train/test decontamination check, cf. the n-gram overlap
  methodology in public LLM reports). Doc shingles explode narrowly;
  the benchmark set is distinct-deduped once; one join on the
  (md5-uniform) shingle key, one groupBy on doc id — no n^2, no skew.
  Filter `score >= threshold` to quarantine contaminated docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weaviate_spark.cache import (
    ensure_min_partitions, register_cache, register_checkpoint,
)
from weaviate_spark.functions.distance import as_matrix
from weaviate_spark.operators.dedup import shingle_df
from weaviate_spark.operators.sampling import md5_prefix_long

# scrub order matters: emails before phones (digit runs inside
# addresses), IPv4 before phones (dotted digit runs match the phone
# shape too)
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+?\d[\d ().-]{7,}\d"),
]


def pii_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_email, n_phone, n_ipv4, has_pii)."""
    out = df.select(
        F.col(id_col),
        *[
            F.regexp_count(F.col(text_col), F.lit(rx)).alias(f"n_{name}")
            for name, rx in PII_PATTERNS
        ],
    )
    total = None
    for name, _ in PII_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("has_pii", total > 0)


def pii_scrub(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """Mask every PII class with its typed placeholder ([EMAIL] etc.)."""
    col = F.col(text_col)
    for name, rx in PII_PATTERNS:
        col = F.regexp_replace(col, rx, f"[{name.upper()}]")
    return df.withColumn(out_col or text_col, col)


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """(id, n_shingles, n_contaminated, score) — score = fraction of the
    doc's distinct word n-grams found anywhere in the benchmark corpus.

    One pass over the doc corpus (r11, guide §1.2): the hit flag comes
    from a single left join against the (distinct) benchmark shingle
    set, and total + contaminated counts come out of ONE aggregation —
    the previous semi-join + separate totals aggregation + re-join
    scanned and shuffled the doc shingles twice (FileScan documents
    2 -> 1, shuffles 4 -> 2; results identical — bench shingles are
    distinct so the left join never multiplies rows)."""
    doc_sh = shingle_df(docs, id_col, text_col, n)
    bench_sh = (
        shingle_df(benchmark, id_col, text_col, n)
        .select("_shingle").distinct().withColumn("_hit", F.lit(1))
    )
    marked = doc_sh.join(bench_sh, "_shingle", "left")
    return (
        marked.groupBy("_doc").agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
        .select(
            F.col("_doc").alias(id_col),
            "n_shingles",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 6).alias("score"),
        )
    )


def global_line_dedup(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 3
) -> DataFrame:
    """C4-style corpus-level line deduplication (Raffel et al. 2020,
    "Exploring the Limits of Transfer Learning...", arXiv 1910.10683
    §2.2: discard any line that occurs >= 3 times in the corpus —
    navigation chrome, cookie banners, boilerplate footers).

    Returns (id, clean_text, n_lines, n_lines_dropped): the doc rebuilt
    from its surviving lines in original order. Lines are matched on
    their trimmed form; blank lines pass through untouched (they carry
    no boilerplate and dropping them would reflow paragraphs).

    Scale shape: explode(lines) -> ONE groupBy on the md5(line) key for
    corpus counts (uniform, no skew) -> count join back on the same key
    -> per-doc ordered reassembly (groupBy doc, sort_array by position).
    Three shuffles, all linear in corpus lines; the line-count table is
    an ingest artifact candidate exactly like the BM25 postings."""
    doc = F.col(id_col).alias("_doc")
    lines = df.select(
        doc,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_key", F.md5(F.trim(F.col("_line"))))
    counts = (
        lines.where(F.trim(F.col("_line")) != "")
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
    )
    marked = lines.join(counts.select("_key", "_n"), "_key", "left")
    kept = marked.withColumn(
        "_drop", F.col("_n").isNotNull() & (F.trim(F.col("_line")) != "")
    )
    return (
        kept.groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_drop").cast("long")).alias("n_lines_dropped"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("_drop"),
                                   F.struct(F.col("_pos"), F.col("_line")))
                        )
                    ),
                    lambda s: s["_line"],
                ),
            ).alias("clean_text"),
        )
        .select(
            F.col("_doc").alias(id_col), "clean_text",
            "n_lines", "n_lines_dropped",
        )
    )


# ---------------------------------------------------------------------------
# model-free quality scoring and importance resampling

def unigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    unigram distribution: score_d = -avg over tokens of ln(C(t)/T).
    The model-free stand-in for the perplexity-bucket quality filters
    of CCNet-style pipelines — documents of boilerplate/common tokens
    score LOW (predictable), rare-token gibberish scores HIGH; filter
    or bucket on the score. Deterministic (a pure function of corpus
    counts, no trained LM), so the DuckDB oracle reproduces it.

    Returns (id, n_tokens, cross_entropy rounded to 6dp); empty docs
    drop out (no tokens to score).

    Scale: the corpus is scanned and TOKENIZED once — the (doc, token
    array) frame is checkpointed, and both consumers (the vocabulary
    count and the scoring join) explode from that leaf instead of
    re-running the regex tokenizer per pass. The vocabulary count table
    (also checkpointed — the scalar T derives from it) is a natural
    ingest artifact (the BM25 term_df table is the same statistic); at
    100 TB the join reuses it instead of recounting. Join keys are
    md5-uniform-ish tokens (no skew beyond natural Zipf head — AQE skew
    split applies); one per-doc groupBy ends the plan."""
    from weaviate_spark.functions.text import tokenize

    # CPU-heavy narrow stage over a possibly single-split local scan:
    # spread first (no-op at real scale where the scan is already wide)
    df = ensure_min_partitions(df)
    tok_arr = register_checkpoint(
        df.select(
            F.col(id_col).alias("_doc"),
            tokenize(F.col(text_col), "word").alias("_tt"),
        )
    )
    toks = tok_arr.select("_doc", F.explode("_tt").alias("_t"))
    counts = register_checkpoint(
        toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    )
    total = counts.agg(F.sum("_c").alias("_tot"))
    scored = (
        toks.join(counts, "_t")
        .crossJoin(F.broadcast(total))
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # + 0.0 folds IEEE negative zero (degenerate one-token
            # corpora score exactly 0; both engines add the same zero)
            (F.round(-F.avg(F.log(F.col("_c") / F.col("_tot"))), 6) + F.lit(0.0))
            .alias("cross_entropy"),
        )
    )
    return scored.select(F.col("_doc").alias(id_col), "n_tokens", "cross_entropy")


def dsir_importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_cond,
    buckets: int = 8192,
    salt: str = "dsir",
) -> DataFrame:
    """Data Selection via Importance Resampling (hashed-n-gram variant,
    public method: Xie et al., 'Data Selection for Language Models via
    Importance Resampling', NeurIPS'23): score every document by how
    much more likely its hashed word-BIGRAM features are under a TARGET
    domain's distribution than under the raw corpus distribution —
    weight_d = avg over features of ln(p_target(b) / p_raw(b)), with
    add-one smoothing over the bucket space so unseen buckets are
    defined. Keep the top-weighted docs to shift the corpus mixture
    toward the target domain without a trained classifier.

    ``target_cond`` is a boolean Column selecting the target-domain
    rows INSIDE df (e.g. F.col('source') == 'wiki'). Feature hashing is
    md5-based (same construction as sampling._unit_hash), so the DuckDB
    oracle reproduces bucket ids bit-for-bit.

    Returns (id, n_features, weight rounded to 6dp); docs with no
    bigram (≤1 token) drop out.

    Scale: bigram explode is narrow; the two bucket-count aggregations
    produce `buckets`-sized results (broadcastable); the feature→ratio
    join is a broadcast join; one per-doc groupBy ends the plan. No
    all-pairs anywhere; the bucket tables are ingest artifacts at
    scale."""
    from weaviate_spark.functions.text import tokenize

    # single-file local tables scan as ~2 splits and serialize the
    # md5-bigram explode on 2 of 32 cores (the text_profile /
    # langid_confusion pattern); on a real cluster this no-ops
    df = ensure_min_partitions(df)
    toks = tokenize(F.col(text_col), "word")
    grams = F.when(
        F.size(toks) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        )
    )
    feats = df.select(
        F.col(id_col).alias("_doc"),
        target_cond.alias("_is_target"),
        F.explode(grams).alias("_g"),
    ).withColumn("_b", md5_prefix_long(F.col("_g"), salt) % buckets)
    # checkpoint the buckets-sized count table: the totals broadcast and
    # the ratio frame each replayed the full bigram-explode lineage per
    # reference (3 corpus scans). The exploded feature stream itself
    # stays streaming (materializing it would cost more than its two
    # passes); only the <= `buckets`-row aggregate is pinned.
    bucket_counts = register_checkpoint(feats.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cr"),
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("_ct"),
    ))
    totals = bucket_counts.agg(
        F.sum("_cr").alias("_Tr"), F.sum("_ct").alias("_Tt")
    )
    ratio = bucket_counts.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            F.log((F.col("_ct") + 1) / (F.col("_Tt") + buckets))
            - F.log((F.col("_cr") + 1) / (F.col("_Tr") + buckets))
        ).alias("_lr"),
    )
    return (
        feats.join(F.broadcast(ratio), "_b")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            # + 0.0 folds IEEE negative zero to +0.0 (DuckDB renders
            # round(-1e-9, 6) as -0.0, Spark as 0.0 — same value,
            # different %.6f string; both engines add the same zero)
            (F.round(F.avg("_lr"), 6) + F.lit(0.0)).alias("weight"),
        )
        .select(F.col("_doc").alias(id_col), "n_features", "weight")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    token-window chunks of ``max_tokens`` with ``overlap`` tokens of
    context carried between consecutive chunks (stride = max_tokens -
    overlap) — the standard long-document preprocessing pass before
    embedding or packing. Chunk ids are deterministic (0-based window
    index), so reruns produce identical chunks and downstream joins on
    (doc, chunk) are stable.

    Returns (id, chunk_idx, n_tokens, chunk_text); chunk_text is the
    space-joined lowercase word tokens of the window (tokenize
    normalizes case). Empty/sub-token docs produce no chunks.

    Scale: pure narrow explode — one pass, no shuffle, no join; chunk
    count ≈ corpus tokens / stride."""
    from weaviate_spark.functions.text import tokenize

    if overlap >= max_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < max_tokens ({max_tokens})"
        )
    stride = max_tokens - overlap
    toks = tokenize(F.col(text_col), "word")
    starts = F.when(
        F.size(toks) < 1, F.array().cast("array<int>")
    ).otherwise(F.sequence(F.lit(1), F.size(toks), F.lit(stride)))
    chunks = df.select(
        F.col(id_col).alias("_doc"),
        toks.alias("_tt"),
        F.explode(starts).alias("_start"),
    ).select(
        "_doc",
        (((F.col("_start") - 1) / stride).cast("long")).alias("chunk_idx"),
        F.slice(F.col("_tt"), F.col("_start"), F.lit(max_tokens)).alias("_chunk"),
    )
    return chunks.select(
        F.col("_doc").alias(id_col),
        "chunk_idx",
        F.size("_chunk").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "_chunk").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# HTML text extraction

# order matters: comments/script/style removed as BLOCKS before any tag
# stripping (their content must not leak); entity decode runs &amp; LAST
# so double-encoded text resolves one level per pass, same in both
# engines.
_HTML_BLOCK_TAGS = (
    "p|div|br|h[1-6]|li|ul|ol|tr|table|section|article|header|footer"
)
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    (r"(?s)<!--.*?-->", ""),
    (r"(?is)<script[^>]*>.*?</script>", ""),
    (r"(?is)<style[^>]*>.*?</style>", ""),
    (rf"(?i)</?(?:{_HTML_BLOCK_TAGS})[^>]*>", "\n"),
    (r"<[^>]+>", " "),
]
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]
_WORD_RE_SQL = "[\\\\p{L}\\\\p{N}]+"


def extract_html_text(
    df: DataFrame,
    html_col: str,
    out_col: str = "extracted",
    min_line_words: int = 3,
) -> DataFrame:
    """HTML -> clean text + line-level boilerplate removal.

    Strip comments/script/style blocks, turn block-level tags into line
    breaks, drop remaining tags, decode the common entities, then keep
    only lines with >= ``min_line_words`` words (the C4-style length
    heuristic, 1910.10683 §2.2 — short nav/footer fragments die here).
    Adds ``out_col`` (kept lines joined by newline), ``{out_col}_lines``
    (kept-line count) and ``{out_col}_chars``. Pure chained regex/replace
    column expressions — single codegen'd pass, no UDF, and the regex
    subset (inline (?is), non-greedy blocks, char classes) behaves
    identically in Java regex and RE2.
    """
    c = F.col(html_col)
    for pat, repl in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, repl)
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.regexp_replace(c, r"[ \t\r]+", " ")
    df = df.withColumn("_clean", c)
    kept = F.expr(
        "filter(transform(split(_clean, '\\n'), x -> trim(x)), "
        f"x -> size(regexp_extract_all(x, '{_WORD_RE_SQL}', 0)) >= {int(min_line_words)})"
    )
    return (
        df.withColumn("_kept", kept)
        .withColumn(out_col, F.array_join("_kept", "\n"))
        .withColumn(f"{out_col}_lines", F.size("_kept").cast("bigint"))
        .withColumn(f"{out_col}_chars", F.length(out_col).cast("bigint"))
        .drop("_clean", "_kept")
    )


C4_TERMINAL = (".", "!", "?", '"', "'")


def c4_page_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_line_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2019, 1910.10683 §2.2): keep
    only lines that end in a terminal punctuation mark AND contain at
    least ``min_line_words`` whitespace words; then drop pages with
    fewer than ``min_sentences`` sentences in the retained text, pages
    containing "lorem ipsum" (case-insensitive), and pages containing
    a curly brace. (The original's bad-words list and its 3-sentence
    cross-page span dedup are separate concerns here: the span dedup is
    global_line_dedup above; a bad-words list can be AND-ed on by the
    caller.)

    Sentences are counted as terminal-punctuation runs in the retained
    text ('Hi! Bye.' = 2) — a deterministic stand-in for the paper's
    (unspecified) sentence splitter. Returns per-page: line counts,
    retained text, sentence count, per-rule booleans, and ``keep``.
    Narrow map-only column expressions; the page either survives with
    its cleaned text or is dropped — no shuffle at any scale.
    """
    text = F.col(text_col)
    lines = F.transform(F.split(text, "\n"), F.trim)

    def _kept(line: Column) -> Column:
        ends = F.lit(False)
        for p in C4_TERMINAL:
            ends = ends | line.endswith(p)
        n_words = F.size(F.filter(
            F.split(line, "\\s+"), lambda w: F.length(w) > 0))
        return ends & (n_words >= min_line_words)

    kept = F.filter(lines, _kept)
    retained = F.array_join(kept, "\n")
    n_sentences = F.size(F.filter(
        F.split(retained, "[.!?]+"), lambda s: F.length(F.trim(s)) > 0))
    # a page that ends in terminal punctuation splits into N-1 + ''
    # — counting non-empty fragments matches "runs of sentences"
    out = df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        retained.alias("retained_text"),
        n_sentences.cast("long").alias("n_sentences"),
    )
    rules = {
        "r_min_sentences": F.col("n_sentences") >= min_sentences,
        "r_no_lorem_ipsum": ~F.lower(F.col("retained_text"))
        .contains("lorem ipsum"),
        "r_no_braces": ~(F.col("retained_text").contains("{")
                         | F.col("retained_text").contains("}")),
    }
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
    return out.withColumn(
        "keep",
        F.col("r_min_sentences") & F.col("r_no_lorem_ipsum")
        & F.col("r_no_braces"),
    )


def bigram_interp_xent(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lam: float = 0.7,
) -> DataFrame:
    """Per-document interpolated-bigram cross-entropy (and perplexity)
    against the corpus's own language model — the step up from
    ``unigram_logprob_scores`` toward the trained-KenLM perplexity
    filters of CCNet-style pipelines, still fully deterministic (the
    "model" is the corpus's bigram/unigram counts, no training run):

        H(d) = -avg over bigrams (v,w) of
               ln( lam * C(v,w)/C(v,.) + (1-lam) * C(w)/T )

    with Jelinek-Mercer interpolation weight ``lam``. C(v,.) is the
    count of bigrams whose context is v, so P_bi rows sum to 1 per
    context; docs with fewer than 2 tokens drop out (nothing to score).
    Boilerplate with predictable word order scores LOW, shuffled-word
    spam scores HIGH even when its unigrams look normal — exactly the
    signal the unigram score misses.

    Scale: the corpus is scanned and TOKENIZED once — the (doc, token
    array) frame is checkpointed and every stream (bigrams for the
    count table, bigrams for the scoring join, unigrams) explodes
    narrowly from that leaf (zip_with on two slices — no self-join, no
    window) instead of re-running the regex tokenizer per consumer.
    The bigram/unigram count tables are checkpointed (vocab-sized;
    ctx and the scalar T derive from them), so the bigram stream is
    shuffled once. Scoring is three hash joins on md5-uniform-ish
    token keys (Zipf head skew handled by AQE skew split) plus one
    per-doc groupBy. Like the unigram table, the bigram count table is
    a natural ingest artifact at 100 TB — count once, score many."""
    from weaviate_spark.functions.text import tokenize

    # CPU-heavy narrow stage over a possibly single-split local scan:
    # spread first (no-op at real scale where the scan is already wide)
    df = ensure_min_partitions(df)
    tok_arr = register_checkpoint(
        df.select(
            F.col(id_col).alias("_doc"),
            tokenize(F.col(text_col), "word").alias("_tt"),
        )
    )
    tt = tok_arr.where(F.size("_tt") >= 2)
    bg = tt.select(
        "_doc",
        F.explode(
            F.zip_with(
                F.slice("_tt", 1, F.size("_tt") - 1),
                F.slice("_tt", 2, F.size("_tt") - 1),
                lambda a, b: F.struct(a.alias("_v"), b.alias("_w")),
            )
        ).alias("_b"),
    ).select("_doc", F.col("_b._v").alias("_v"), F.col("_b._w").alias("_w"))

    bi = register_checkpoint(
        bg.groupBy("_v", "_w").agg(F.count(F.lit(1)).alias("_cb"))
    )
    ctx = bi.groupBy("_v").agg(F.sum("_cb").alias("_cv"))
    toks = tok_arr.select(F.explode("_tt").alias("_w"))
    uni = register_checkpoint(
        toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_cu"))
    )
    total = uni.agg(F.sum("_cu").alias("_tot"))

    p = (
        F.lit(lam) * (F.col("_cb") / F.col("_cv"))
        + F.lit(1.0 - lam) * (F.col("_cu") / F.col("_tot"))
    )
    scored = (
        bg.join(bi, ["_v", "_w"])
        .join(ctx, "_v")
        .join(uni, "_w")
        .crossJoin(F.broadcast(total))
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.avg(F.log(p))).alias("_h"),
        )
    )
    return scored.select(
        F.col("_doc").alias(id_col),
        "n_bigrams",
        (F.round("_h", 6) + F.lit(0.0)).alias("cross_entropy"),
        (F.round(F.exp("_h"), 6) + F.lit(0.0)).alias("perplexity"),
    )


def label_outlier_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Label-noise / outlier detection over an embedding column: for
    every item, the euclidean distance to its OWN label's centroid and
    to the NEAREST OTHER label's centroid; a negative margin
    (d_other < d_own) flags a likely mislabel — the confident-learning
    triage a training pipeline runs before trusting a labeled corpus.

    Plan shape: one posexplode to (id, label, dim, val) — narrow; one
    (label, dim) groupBy for centroids (tiny result: labels x dims);
    d_own joins items to their own centroid on (label, dim) and
    reduces per id; d_other crosses each item with the BROADCAST
    centroid table restricted to other labels (items x labels x dims
    rows, labels is small by definition of a label space) and takes
    the min with a deterministic label tie-break. No item-item pairs
    anywhere — at 100 TB this is two joins against a broadcast-sized
    statistic, the same shape as the IVF assignment pass."""
    items = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_val"),
    ).withColumn("_val", F.col("_val").cast("double"))
    # labels x dims — tiny; checkpointed because BOTH distance joins
    # reference it (the d_own join and the broadcast build each
    # re-executed the corpus explode+aggregate without the leaf)
    cent = register_checkpoint(
        items.groupBy("_lbl", "_dim").agg(F.avg("_val").alias("_mu")))

    d_own = (
        items.join(cent, ["_lbl", "_dim"])
        .groupBy("_id", "_lbl")
        .agg(
            F.sqrt(F.sum((F.col("_val") - F.col("_mu")) * (F.col("_val") - F.col("_mu")))).alias("_down")
        )
    )
    other = cent.select(
        F.col("_lbl").alias("_olbl"),
        F.col("_dim").alias("_odim"),
        F.col("_mu").alias("_omu"),
    )
    d_other = (
        items.join(
            F.broadcast(other),
            (F.col("_dim") == F.col("_odim")) & (F.col("_lbl") != F.col("_olbl")),
        )
        .groupBy("_id", "_olbl")
        .agg(
            F.sqrt(
                F.sum((F.col("_val") - F.col("_omu")) * (F.col("_val") - F.col("_omu")))
            ).alias("_d")
        )
    )
    # nearest other label: min distance at 6dp, deterministic label tie-break
    best = d_other.groupBy("_id").agg(
        F.min(
            F.struct(
                (F.round("_d", 6) + F.lit(0.0)).alias("_d6"),
                F.col("_olbl").alias("_l"),
            )
        ).alias("_b")
    )
    return (
        d_own.join(best, "_id")
        .select(
            F.col("_id").alias(id_col),
            F.col("_lbl").alias(label_col),
            (F.round("_down", 6) + F.lit(0.0)).alias("d_own"),
            F.col("_b._l").alias("nearest_other_label"),
            F.col("_b._d6").alias("d_other"),
            (F.round(F.col("_b._d6") - F.round("_down", 6), 6) + F.lit(0.0)).alias(
                "margin"
            ),
            (F.col("_b._d6") < F.round("_down", 6) + F.lit(0.0)).alias(
                "likely_mislabeled"
            ),
        )
    )


def label_centroid_medoids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Per-label centroid summary + medoid: (label, n_vecs,
    centroid_norm, medoid_id, medoid_distance) where the medoid is the
    member vector closest (euclidean, 6dp, id tie-break) to its
    label's centroid — the exemplar-selection step of a curation
    pipeline (one representative document/image per cluster) and the
    sanity probe on label geometry (a tiny centroid_norm means the
    label's members cancel out — an incoherent class).

    Same plan skeleton as label_outlier_scores: one posexplode, one
    (label, dim) centroid groupBy (labels × dims rows — broadcastable
    at any corpus size), one join back on (label, dim) + per-item
    reduce, then a per-label min-struct argmin. No item-item pairs.
    """
    items = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_val"),
    ).withColumn("_val", F.col("_val").cast("double"))
    cent = register_cache(
        items.groupBy("_lbl", "_dim").agg(F.avg("_val").alias("_mu")).cache()
    )

    norms = cent.groupBy("_lbl").agg(
        (F.round(F.sqrt(F.sum(F.col("_mu") * F.col("_mu"))), 6) + F.lit(0.0)).alias(
            "centroid_norm"
        )
    )
    dists = (
        items.join(cent, ["_lbl", "_dim"])
        .groupBy("_id", "_lbl")
        .agg(
            (
                F.round(
                    F.sqrt(
                        F.sum(
                            (F.col("_val") - F.col("_mu"))
                            * (F.col("_val") - F.col("_mu"))
                        )
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("_d")
        )
    )
    best = dists.groupBy("_lbl").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min(F.struct(F.col("_d"), F.col("_id"))).alias("_m"),
    )
    return (
        best.join(F.broadcast(norms), "_lbl")
        .select(
            F.col("_lbl").alias(label_col),
            "n_vecs",
            "centroid_norm",
            F.col("_m._id").alias("medoid_id"),
            F.col("_m._d").alias("medoid_distance"),
        )
    )


def kmeans_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iterations: int = 5,
    salt: str = "km",
) -> DataFrame:
    """Deterministic distributed Lloyd k-means over an embedding column:
    seeds are the k vectors with the smallest (md5(salt:id), id) — a
    partition-invariant stand-in for random init — then ``iterations``
    assign/update rounds. Returns one row per cluster: (cluster_id,
    n_members, centroid_norm, inertia).

    Determinism contract (what lets a DuckDB oracle replay it): every
    iteration's distances are rounded to 6dp before the argmin (ties ->
    lower cluster id) and every updated centroid coordinate is rounded
    to 6dp, so the iteration state is a fixed-point-like value both
    engines agree on; the final inertia is a DECIMAL-exact sum of the
    6dp member distances.

    Scale shape: vectors live in long form (id, dim, val); the centroid
    table is k x d rows and always broadcasts, so each iteration is one
    broadcast join + two keyed aggregations — no all-pairs, no driver
    collect (centroids stay a DataFrame; lineage is cut per round with
    localCheckpoint so ``iterations`` never compounds the plan).
    """
    if k < 1 or iterations < 1:
        raise ValueError("k and iterations must be >= 1")
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).where(F.col("_vec").isNotNull())
    it = register_cache(
        base.select(
            "_id", F.posexplode("_vec").alias("_dim", "_val")
        ).withColumn("_val", F.col("_val").cast("double")).cache()
    )
    from pyspark.sql import Window

    seed_w = Window.orderBy(md5_prefix_long(F.col("_id"), salt), F.col("_id"))
    seeds = (
        base.select("_id")
        .withColumn("_c", F.row_number().over(seed_w) - 1)
        .where(F.col("_c") < k)
    )
    cent = (
        it.join(F.broadcast(seeds), "_id")
        .select("_c", "_dim", F.round("_val", 6).alias("_mu"))
    ).localCheckpoint()
    assign = None
    for _ in range(iterations):
        dists = (
            it.join(F.broadcast(cent), "_dim")
            .groupBy("_id", "_c")
            .agg(
                F.round(
                    F.sum(
                        (F.col("_val") - F.col("_mu"))
                        * (F.col("_val") - F.col("_mu"))
                    ),
                    6,
                ).alias("_dd")
            )
        )
        pick = Window.partitionBy("_id").orderBy(
            F.col("_dd").asc(), F.col("_c").asc()
        )
        assign = (
            dists.withColumn("_r", F.row_number().over(pick))
            .where(F.col("_r") == 1)
            .select("_id", "_c", "_dd")
        )
        cent = (
            it.join(assign.select("_id", "_c"), "_id")
            .groupBy("_c", "_dim")
            .agg(F.round(F.avg("_val"), 6).alias("_mu"))
        ).localCheckpoint()
    norms = cent.groupBy("_c").agg(
        F.round(F.sqrt(F.sum(F.col("_mu") * F.col("_mu"))) + F.lit(0.0), 6).alias(
            "centroid_norm"
        )
    )
    return (
        assign.groupBy("_c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(
                F.sum(F.col("_dd").cast("decimal(18,6)")).cast("double")
                + F.lit(0.0),
                6,
            ).alias("inertia"),
        )
        .join(F.broadcast(norms), "_c")
        .select(
            F.col("_c").cast("int").alias("cluster_id"),
            "n_members",
            "centroid_norm",
            "inertia",
        )
    )


def pca_top_component(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    iterations: int = 5,
) -> DataFrame:
    """Dominant principal direction of an embedding corpus via power
    iteration on the (uncentered) d x d Gram matrix: G = X^T X built
    once as a distributed aggregate, then ``iterations`` rounds of
    w = G v / ||G v|| with the unit vector re-fixed to 6dp each round
    (the same 6dp-state trick the k-means oracle uses, so a SQL replay
    agrees bit-for-bit). Uniform deterministic init (1/sqrt(d)).

    Returns one row per dimension: (dim, loading, eigenvalue) —
    eigenvalue is the final Rayleigh-quotient-style ||G v|| estimate.

    Scale shape: the only corpus-sized work is the Gram aggregation
    (a per-vector d^2 outer-product fan-out, shuffled on the (i, j)
    dim-pair key — d^2 cells total, independent of corpus size); every
    iteration then runs on the d x d table with a broadcast of the
    d-row vector. The anisotropy/ABTT diagnostic ("All-but-the-Top",
    Mu 2018) for embedding corpora.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # Gram cells via one numpy X^T X per Arrow batch (guide §4.2): the
    # previous shape self-joined the exploded (id, dim, val) frame on
    # the id — an 82M-row join fan-out at the 10x lane (4.2 s noop);
    # per-batch BLAS plus a d^2-cell partial-sum shuffle measures
    # 0.8 s on identical cells (max relative difference 2e-12, three
    # orders below the 6dp rounding every iteration applies — and the
    # old form's own summation order was already partition-dependent).
    # The direct d^2 array-explode variant was measured 7x SLOWER than
    # the join (4096 structs materialized per row — the capped-array
    # anti-pattern from the r11 posting-list work).
    def _gram_batches(batches):
        import numpy as np
        import pandas as pd

        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = as_matrix(pdf["_vec"], vec_col)
            g = X.T @ X
            acc = g if acc is None else acc + g
        if acc is not None:
            dd = acc.shape[0]
            i, j = np.unravel_index(np.arange(dd * dd), (dd, dd))
            yield pd.DataFrame({
                "_i": i.astype("int32"), "_j": j.astype("int32"),
                "_g": acc.ravel(),
            })

    vecs = ensure_min_partitions(
        df.select(F.col(vec_col).alias("_vec")).where(F.col("_vec").isNotNull())
    )
    gram = register_cache(
        vecs.mapInPandas(_gram_batches, "_i int, _j int, _g double")
        .groupBy("_i", "_j")
        .agg(F.sum("_g").alias("_g"))
        .cache()
    )
    d = int(df.select(F.size(F.col(vec_col)).alias("_d"))
            .where(F.col(vec_col).isNotNull()).first()["_d"])
    v = gram.sparkSession.range(d).select(
        F.col("id").cast("int").alias("_j"),
        F.round(F.lit(1.0 / float(d) ** 0.5), 6).alias("_v"),
    ).localCheckpoint()
    last_norm = None
    for _ in range(iterations):
        w = (
            gram.join(F.broadcast(v), "_j")
            .groupBy("_i")
            .agg(F.sum(F.col("_g") * F.col("_v")).alias("_w"))
        )
        norm = w.agg(F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_nm"))
        last_norm = norm
        v = (
            w.crossJoin(F.broadcast(norm))
            .select(
                F.col("_i").alias("_j"),
                F.round(F.col("_w") / F.col("_nm"), 6).alias("_v"),
            )
        ).localCheckpoint()
    return v.crossJoin(F.broadcast(last_norm)).select(
        F.col("_j").alias("dim"),
        F.col("_v").alias("loading"),
        F.round(F.col("_nm") + F.lit(0.0), 6).alias("eigenvalue"),
    )


def silhouette_by_label(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Simplified silhouette per label (centroid form, Hruschka et al.):
    a(i) = distance to the OWN label centroid, b(i) = min distance to
    any OTHER label centroid, s(i) = (b - a) / max(a, b). Returns one
    row per label: (label, n_vecs, mean_silhouette, n_negative) —
    the label-coherence / annotation-quality probe (negative s means
    the point sits closer to a foreign class centroid).

    Same scale skeleton as label_centroid_medoids: one posexplode, a
    (label x dim) centroid table that always broadcasts, one dim-keyed
    join fanning each item out to ALL label centroids (labels x rows —
    bounded by the label vocabulary, never item pairs). Distances are
    rounded to 6dp before the a/b comparison and s is fixed to 6dp
    DECIMAL before the per-label mean, so the whole statistic is
    partition-invariant and oracle-replayable.
    """
    items = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_val"),
    ).withColumn("_val", F.col("_val").cast("double"))
    items = register_cache(items.cache())
    cent = items.groupBy(
        F.col("_lbl").alias("_clbl"), F.col("_dim")
    ).agg(F.avg("_val").alias("_mu"))
    dists = (
        items.join(F.broadcast(cent), "_dim")
        .groupBy("_id", "_lbl", "_clbl")
        .agg(
            (
                F.round(
                    F.sqrt(
                        F.sum(
                            (F.col("_val") - F.col("_mu"))
                            * (F.col("_val") - F.col("_mu"))
                        )
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("_d")
        )
    )
    ab = dists.groupBy("_id", "_lbl").agg(
        F.max(F.when(F.col("_clbl") == F.col("_lbl"), F.col("_d"))).alias("_a"),
        F.min(F.when(F.col("_clbl") != F.col("_lbl"), F.col("_d"))).alias("_b"),
    )
    s = ab.select(
        "_lbl",
        F.when(
            F.greatest("_a", "_b") == F.lit(0.0), F.lit(0.0)
        )
        .otherwise(
            F.round(
                (F.col("_b") - F.col("_a")) / F.greatest("_a", "_b"), 6
            )
        )
        .alias("_s"),
    )
    return s.groupBy(F.col("_lbl").alias(label_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(
            F.sum(F.col("_s").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1))
            + F.lit(0.0),
            6,
        ).alias("mean_silhouette"),
        F.sum(F.when(F.col("_s") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative"),
    )


def embedding_dim_profile(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension profile of an embedding column: (dim, n, mean,
    std, min_val, max_val) — the feature-drift / dead-dimension audit
    (a constant dimension wastes index bits; a runaway one dominates
    L2). One posexplode + one dim-keyed aggregate; output is dims
    rows at any corpus size.

    Values are fixed to 6dp DECIMAL per element so the moment sums are
    exact and partition-invariant; mean/std are fixed-order double
    expressions over those exact sums (std = sample, n-1)."""
    v = F.round(F.col("_raw"), 6).cast("decimal(18,6)")
    it = df.select(
        F.posexplode(F.col(vec_col)).alias("_dim", "_raw")
    ).withColumn("_raw", F.col("_raw").cast("double")).select(
        "_dim", v.alias("_v")
    )
    mom = it.groupBy("_dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_v").alias("_s1"),
        F.sum(F.col("_v") * F.col("_v")).alias("_s2"),
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    return mom.select(
        F.col("_dim").cast("int").alias("dim"),
        "n",
        F.round(s1 / n + F.lit(0.0), 6).alias("mean"),
        F.round(
            F.sqrt(
                F.greatest(
                    (s2 - s1 * s1 / n) / (n - F.lit(1.0)), F.lit(0.0)
                )
            )
            + F.lit(0.0),
            6,
        ).alias("std"),
        F.col("_mn").cast("double").alias("min_val"),
        F.col("_mx").cast("double").alias("max_val"),
    )


def embedding_centroid_drift(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Per-label embedding drift between two deterministic cohorts
    (even vs odd ids — the A/B halves of an ingest): euclidean shift
    between the cohorts' label centroids, with cohort sizes. A label
    whose centroid moves is drifting (new data distribution or
    labeling change) — the embedding-space counterpart of PSI.

    Same centroid skeleton as silhouette_by_label: one posexplode, one
    (label, cohort, dim) aggregate (broadcast-sized), one label-keyed
    reduce. Distances rounded at 6dp after the sum — the established
    centroid-arithmetic contract."""
    items = df.select(
        F.col(label_col).alias("_lbl"),
        (F.col(id_col) % 2 == 0).alias("_a"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_val"),
    ).withColumn("_val", F.col("_val").cast("double"))
    cent = items.groupBy("_lbl", "_a", "_dim").agg(
        F.avg("_val").alias("_mu"), F.count(F.lit(1)).alias("_n")
    )
    a = cent.where(F.col("_a")).select(
        "_lbl", "_dim", F.col("_mu").alias("_ma"), F.col("_n").alias("_na")
    )
    b = cent.where(~F.col("_a")).select(
        "_lbl", "_dim", F.col("_mu").alias("_mb"), F.col("_n").alias("_nb")
    )
    j = a.join(b, ["_lbl", "_dim"])
    return j.groupBy(F.col("_lbl").alias(label_col)).agg(
        F.max("_na").cast("long").alias("n_even"),
        F.max("_nb").cast("long").alias("n_odd"),
        (
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("_ma") - F.col("_mb"))
                        * (F.col("_ma") - F.col("_mb"))
                    )
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("centroid_shift"),
    )


def kcenter_coreset(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    salt: str = "kc",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal): seed = smallest (md5, id) point, then repeatedly take
    the point FARTHEST from the selected set. Returns the selection
    trace (rank, id, radius) where radius is the maximin distance at
    selection time — a monotone non-increasing curve that doubles as
    the coverage certificate (every point is within `radius` of some
    center, 2-approx of the optimal k-center cost). The diversity-
    maximizing data-selection primitive next to the MMR reranker
    (corpus-global, not query-relative).

    Determinism contract: distances use the dot-product identity
    sqrt(aa - 2ab + bb) rounded to 6dp with an id tie-break on the
    argmax, so an unrolled-CTE oracle replays the trace exactly.
    Scale shape: each round is one (point x selected) long-form join
    grouped on (point, center) — points x k x dims work total, never
    point pairs; the selected set stays k rows and broadcasts."""
    from pyspark.sql import Window

    from weaviate_spark.operators.sampling import md5_prefix_long

    items = df.select(
        F.col(id_col).alias("_pid"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_val"),
    ).withColumn("_val", F.col("_val").cast("double"))
    items = register_cache(items.cache())

    base_ids = df.select(F.col(id_col).alias("_pid")).where(
        F.col(vec_col).isNotNull()
    )
    seed = (
        base_ids.orderBy(
            md5_prefix_long(F.col("_pid"), salt).asc(), F.col("_pid").asc()
        )
        .limit(1)
        .select(
            F.lit(1).alias("rank"), F.col("_pid"),
            F.lit(0.0).alias("radius"),
        )
    )
    sel = seed.localCheckpoint(eager=True)
    # running maximin state: per point, the min 6dp distance to the
    # selected set SO FAR. Each pairwise distance is rounded before the
    # min either way, so folding with least() is value-identical to
    # recomputing the min over all selected centers — but each round
    # now joins points against ONLY the center added last round
    # (k x points x dims total work, was k^2/2 x points x dims).
    mind = None
    for r in range(2, int(k) + 1):
        last = sel.where(F.col("rank") == r - 1).select(
            F.col("_pid").alias("_sid"))
        selitems = items.join(
            F.broadcast(last), items._pid == F.col("_sid"),
        ).select("_sid", "_dim", F.col("_val").alias("_sval"))
        pairs = items.join(F.broadcast(selitems), "_dim")
        d = pairs.groupBy("_pid", "_sid").agg(
            F.sum(F.col("_val") * F.col("_val")).alias("_aa"),
            F.sum(F.col("_val") * F.col("_sval")).alias("_ab"),
            F.sum(F.col("_sval") * F.col("_sval")).alias("_bb"),
        ).select(
            "_pid",
            F.round(
                F.sqrt(
                    F.greatest(
                        F.col("_aa") - 2 * F.col("_ab") + F.col("_bb"),
                        F.lit(0.0),
                    )
                ),
                6,
            ).alias("_d"),
        )
        # lazy checkpoint (the pagerank-measured pattern): both
        # consumers — this round's argmax and next round's fold — reuse
        # the RDD materialized by the sel checkpoint job below, so an
        # eager variant only added a job per round (measured slower)
        mind = (
            d.select("_pid", F.col("_d").alias("_mind")) if mind is None
            else mind.join(d, "_pid").select(
                "_pid", F.least(F.col("_mind"), F.col("_d")).alias("_mind"))
        ).localCheckpoint(eager=False)
        nxt = (
            mind.join(sel.select("_pid"), "_pid", "left_anti")
            .orderBy(F.col("_mind").desc(), F.col("_pid").asc())
            .limit(1)
            .select(
                F.lit(r).alias("rank"), F.col("_pid"),
                F.col("_mind").alias("radius"),
            )
        )
        sel = sel.unionByName(nxt).localCheckpoint(eager=True)
    return sel.select(
        F.col("rank").cast("int").alias("rank"),
        F.col("_pid").alias(id_col),
        F.col("radius").cast("double").alias("radius"),
    )


def nb_classifier_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    positive,
    holdout_mod: int = 5,
) -> DataFrame:
    """Trainable multinomial Naive Bayes text classifier — the
    fasttext-shaped quality/domain filter of LLM data pipelines (the
    GPT-3/CCNet "does this look like the target corpus?" classifier),
    trained and applied entirely as DataFrame aggregations.

    ``positive`` is a boolean Column giving each document's training
    label (e.g. ``F.col("lang") == "en"``). Documents with
    ``id % holdout_mod == 0`` are the scoring HOLDOUT; the rest train
    the model. Add-one (Laplace) smoothing over the training
    vocabulary; unseen holdout tokens get the smoothed-zero likelihood.

    Per-token log-likelihood ratios are rounded to 8dp and summed as
    DECIMAL(20,8) — the sum is exact, so the score is partition- and
    engine-invariant (the analytics.py DECIMAL-moments rule; a double
    sum over hundreds of logs is not reassociation-safe).

    Returns (id, n_tokens, log_odds DOUBLE 6dp, predicted BOOLEAN,
    actual BOOLEAN) for holdout documents with >= 1 token.

    Scale: training = one token explode + one vocab-keyed groupBy
    (map-side combined, vocab-sized result) + one 1-row stats
    aggregate; scoring = one explode + one broadcast-sized join against
    the vocab LLR table + one per-doc groupBy. The vocab table is a
    natural written ingest artifact (same statistic family as the BM25
    term_df tables). No quadratic stage, no skew beyond Zipf heads
    (AQE skew split applies to the token join).
    """
    from weaviate_spark.functions.text import tokenize

    base = df.select(
        F.col(id_col).alias("_doc"),
        F.col(text_col).alias("_text"),
        positive.alias("_pos"),
        (F.pmod(F.col(id_col), F.lit(holdout_mod)) == 0).alias("_hold"),
    )
    toks = base.select(
        "_doc", "_pos", "_hold",
        F.explode(tokenize(F.col("_text"), "word")).alias("_t"),
    )
    train_toks = toks.where(~F.col("_hold"))

    # vocabulary counts per class (one groupBy, vocab-sized) —
    # checkpointed: tots, llr and unseen each referenced it, re-running
    # the training-token explode per reference (5 corpus scans in the
    # executed plan; now one training explode + one scoring explode +
    # the prior's doc-count pass)
    vocab = register_checkpoint(train_toks.groupBy("_t").agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("_cp"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(1)).alias("_cn"),
    ))
    # corpus totals + doc priors (1-row broadcast stats)
    tots = vocab.agg(
        F.sum("_cp").alias("_tp"),
        F.sum("_cn").alias("_tn"),
        F.count(F.lit(1)).alias("_v"),
    )
    priors = (
        base.where(~F.col("_hold"))
        .agg(
            F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("_dp"),
            F.sum(F.when(F.col("_pos"), 0).otherwise(1)).alias("_dn"),
        )
    )

    dec = "decimal(20,8)"
    llr = (
        vocab.crossJoin(F.broadcast(tots))
        .select(
            "_t",
            F.round(
                F.log((F.col("_cp") + 1) / (F.col("_tp") + F.col("_v")))
                - F.log((F.col("_cn") + 1) / (F.col("_tn") + F.col("_v"))),
                8,
            ).cast(dec).alias("_llr"),
        )
    )
    unseen = tots.select(
        F.round(
            F.log(F.lit(1.0) / (F.col("_tp") + F.col("_v")))
            - F.log(F.lit(1.0) / (F.col("_tn") + F.col("_v"))),
            8,
        ).cast(dec).alias("_llr0"),
    )
    prior = priors.select(
        F.round(F.log(F.col("_dp") / F.col("_dn")), 8).cast(dec).alias("_lp"),
    )

    scored = (
        toks.where(F.col("_hold"))
        .join(llr, "_t", "left")
        .crossJoin(F.broadcast(unseen))
        .withColumn("_w", F.coalesce(F.col("_llr"), F.col("_llr0")))
        .groupBy("_doc", "_pos")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_w").alias("_s"),
        )
        .crossJoin(F.broadcast(prior))
    )
    return scored.select(
        F.col("_doc").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.round((F.col("_s") + F.col("_lp")).cast("double"), 6) + F.lit(0.0))
        .alias("log_odds"),
        ((F.col("_s") + F.col("_lp")) > 0).alias("predicted"),
        F.col("_pos").alias("actual"),
    )
