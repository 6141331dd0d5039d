"""Module registry: the UDF extension surface (SURVEY §2.10).

Weaviate's extension point is capability modules
(entities/modulecapabilities/, usecases/modules/): vectorizers
(text2vec-*), rerankers (reranker-*), generative (generative-*). The
Spark mapping is a registry of Arrow-batched pandas_udfs applied as
plan stages:

* vectorizer  — text -> array<float>; applied at ingest
  (withColumn("_vector", ...)) and to nearText query strings
  (driver-side, same function — the VectorFromInput analogue).
* reranker    — (query, doc text) -> score; applied to the top-k
  window after search (reranker-* modules re-order the fetched k).
* generative  — (prompt, doc) -> text; per-result map stage
  (generative-* single-prompt mode).

Shipped implementations are deterministic dummies (like the
reference's own `generative-dummy` module) so pipelines are testable
offline; a real model plugs in by registering a function with the same
signature — the plan shape does not change.

nearText's moveTo/moveAwayFrom concept arithmetic
(retrieval.go:149-160): q' = q + force*(avg(to) - q) - force*(avg(away) - q),
implemented on the driver-side query vector.
"""

from __future__ import annotations

import hashlib
import math
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

VECTORIZERS: dict[str, Callable] = {}
RERANKERS: dict[str, Callable] = {}
GENERATIVES: dict[str, Callable] = {}


def register_vectorizer(name: str):
    def deco(fn):
        VECTORIZERS[name] = fn
        return fn
    return deco


def hash_embed_py(text: str, dim: int = 16) -> list[float]:
    """Deterministic text embedding: md5-seeded unit vector (the
    text2vec-dummy). Same function serves column batches and query
    strings, so nearText is self-consistent."""
    raw = []
    data = (text or "").encode()
    for d in range(dim):
        h = hashlib.md5(data + d.to_bytes(4, "little")).digest()
        raw.append(int.from_bytes(h[:4], "little") / 0xFFFFFFFF - 0.5)
    n = math.sqrt(sum(x * x for x in raw)) or 1.0
    return [x / n for x in raw]


def _hash_embed_sql(col_sql: str, dim: int) -> str:
    """JVM (Catalyst) expression replaying hash_embed_py BIT-FOR-BIT —
    same md5 bytes, same little-endian uint32, same IEEE division and
    left-fold normalization order — so the Python boundary disappears
    from every vectorize stage with hash-identical output (guide §4.1:
    built-ins over UDFs; pinned by tests/test_fixes_r11.py against the
    Python form row-for-row).

    Per dim d: md5(utf8(text) ++ d.to_bytes(4, LE)), first 4 digest
    bytes as little-endian uint32 (hex char pairs 7-8,5-6,3-4,1-2 —
    exactly the duckdb oracle's formula) / 0xFFFFFFFF - 0.5; then
    x / sqrt(sum x_i^2) with sum as an in-order left fold (aggregate)
    matching Python's sum(), and the n==0 -> 1.0 guard. NULL text
    embeds like '' (the pandas path called the fn on None)."""
    raws = []
    for d in range(dim):
        sfx = d.to_bytes(4, "little").hex()
        h = f"md5(concat(CAST(coalesce({col_sql}, '') AS BINARY), X'{sfx}'))"
        le = (
            f"CAST(conv(concat(substring({h}, 7, 2), substring({h}, 5, 2), "
            f"substring({h}, 3, 2), substring({h}, 1, 2)), 16, 10) AS DOUBLE)"
        )
        raws.append(f"({le} / 4294967295.0D - 0.5D)")
    arr = f"array({', '.join(raws)})"
    # array(...)[0] binds the raw vector to the lambda variable r so the
    # 16 md5 folds evaluate ONCE, not per output element
    norm = ("(CASE WHEN sqrt(aggregate(r, 0.0D, (a, y) -> a + y * y)) = 0.0D "
            "THEN 1.0D ELSE sqrt(aggregate(r, 0.0D, (a, y) -> a + y * y)) END)")
    return (
        f"transform(array({arr}), r -> transform(r, x -> x / {norm}))[0]"
    )


def hash_embed_col(col: Column, dim: int = 16, as_float: bool = False) -> Column:
    """hash_embed_py as a codegen expression over a column (no
    JVM<->Python round trip). ``as_float`` casts each component to
    FLOAT — the same double->float rounding the array<float> pandas_udf
    return path applied."""
    from weaviate_spark.cache import column_sql

    body = _hash_embed_sql(column_sql(col), dim)
    if as_float:
        body = f"transform({body}, x -> CAST(x AS FLOAT))"
    return F.expr(body)


@register_vectorizer("text2vec-dummy")
def text2vec_dummy(dim: int = 16):
    def _embed(col: Column) -> Column:
        return hash_embed_col(col, dim, as_float=True)

    return _embed


# (session id, registry epoch) -> Broadcast[(frozenset, int)]. One
# broadcast per lexicon generation: since r10 the default lexicon is
# ~300k words (ICU cjdict), and capturing it by VALUE in every UDF
# closure would re-pickle ~8 MB into every task binary; a broadcast is
# deserialized once per executor python worker and cached there — the
# 100-TB-correct way to ship a dictionary.
_CJK_LEX_BROADCASTS: dict = {}


def _cjk_lexicon_broadcast(spark):
    from weaviate_spark.cache import session_key
    from weaviate_spark.functions.text import (
        active_cjk_lexicon, active_cjk_max_word, lexicon_epoch,
    )

    key = (session_key(spark), lexicon_epoch())
    bc = _CJK_LEX_BROADCASTS.get(key)
    if bc is None:
        from weaviate_spark.functions.text import active_cjk_len_mask

        bc = spark.sparkContext.broadcast(
            (active_cjk_lexicon(), active_cjk_max_word(),
             active_cjk_len_mask()))
        # a registry mutation makes older generations unreachable for
        # NEW plans; release their executor copies (plans already built
        # keep their own broadcast reference alive)
        for k in [k for k in _CJK_LEX_BROADCASTS if k[0] == key[0]]:
            try:
                _CJK_LEX_BROADCASTS.pop(k).unpersist(False)
            except Exception:
                pass
        _CJK_LEX_BROADCASTS[key] = bc
    return bc


def cjk_dict_tokenize_udf():
    """Arrow-batched 'gse_dict' tokenizer (defined here: this module has
    no `from __future__ import annotations`, which pandas_udf's type-
    hint introspection requires). The merged embedded+default+runtime
    lexicon is snapshotted HERE, at plan-build time, as a BROADCAST —
    executor processes re-import the module and would otherwise see an
    unloaded runtime dictionary, and by-value closure capture would
    ship the ~300k-word default lexicon inside every task."""
    from pyspark.sql import SparkSession

    from weaviate_spark.functions.text import (
        active_cjk_lexicon, active_cjk_max_word, tokenize_cjk_dict_py,
    )

    spark = SparkSession.getActiveSession()
    if spark is not None:
        bc = _cjk_lexicon_broadcast(spark)

        @pandas_udf("array<string>")
        def _seg(batch: pd.Series) -> pd.Series:
            lex, maxw, mask = bc.value
            return batch.map(
                lambda t: tokenize_cjk_dict_py(t or "", lex, maxw, mask))

        return _seg

    from weaviate_spark.functions.text import active_cjk_len_mask

    lex = active_cjk_lexicon()  # no active session: by-value fallback
    maxw = active_cjk_max_word()
    mask = active_cjk_len_mask()

    @pandas_udf("array<string>")
    def _seg(batch: pd.Series) -> pd.Series:
        return batch.map(
            lambda t: tokenize_cjk_dict_py(t or "", lex, maxw, mask))

    return _seg


def cjk_all_tokenize_udf():
    """Arrow-batched 'gse_all' (search-mode) tokenizer — same
    broadcast-shipped lexicon generation as cjk_dict_tokenize_udf."""
    from pyspark.sql import SparkSession

    from weaviate_spark.functions.text import (
        active_cjk_lexicon, active_cjk_max_word, tokenize_cjk_all_py,
    )

    spark = SparkSession.getActiveSession()
    if spark is not None:
        bc = _cjk_lexicon_broadcast(spark)

        @pandas_udf("array<string>")
        def _seg(batch: pd.Series) -> pd.Series:
            lex, maxw, _mask = bc.value
            return batch.map(
                lambda t: tokenize_cjk_all_py(t or "", lex, maxw))

        return _seg

    lex = active_cjk_lexicon()
    maxw = active_cjk_max_word()

    @pandas_udf("array<string>")
    def _seg(batch: pd.Series) -> pd.Series:
        return batch.map(lambda t: tokenize_cjk_all_py(t or "", lex, maxw))

    return _seg


def class_dict_tokenize_udf(mode: str, reps, fold: bool = False):
    """Arrow-batched TokenizeForClass with a user dictionary
    (tokenizer_userdict.go): ``reps`` (longest-source-first replacement
    pairs) is captured by value — the per-class registry is driver-side
    state that does not travel to executors."""
    from weaviate_spark.functions.text import apply_user_dict_py

    reps = list(reps)

    @pandas_udf("array<string>")
    def _seg(batch: pd.Series) -> pd.Series:
        return batch.map(
            lambda t: apply_user_dict_py(t or "", mode, reps, fold))

    return _seg


def hash_embed_udf(dim: int = 16):
    """Double-precision variant of the dummy vectorizer: bit-exact with
    the oracle's md5 SQL mirror (array<float> truncation would round
    differently at the 6dp hash boundary). Despite the legacy name this
    is now the JVM expression (hash_embed_col), not a Python UDF — the
    signature (a callable over a column) is unchanged."""

    def _embed(col) -> Column:
        return hash_embed_col(col, dim, as_float=False)

    return _embed


def vectorize_column(text_col: Column, module: str = "text2vec-dummy", dim: int = 16) -> Column:
    """Ingest-time vectorizer stage: withColumn('_vector', ...)."""
    return VECTORIZERS[module](dim)(text_col)


def near_text_vector(
    concepts: list[str],
    module: str = "text2vec-dummy",
    dim: int = 16,
    move_to: list[str] | None = None,
    move_away: list[str] | None = None,
    force: float = 0.5,
) -> list[float]:
    """Query-side nearText: embed concepts (averaged), then apply
    moveTo/moveAwayFrom concept arithmetic (retrieval.go:149-160)."""
    def avg(texts: list[str]) -> list[float]:
        vs = [hash_embed_py(t, dim) for t in texts]
        return [sum(col) / len(vs) for col in zip(*vs)]

    q = avg(concepts)
    if move_to:
        to = avg(move_to)
        q = [qi + force * (ti - qi) for qi, ti in zip(q, to)]
    if move_away:
        aw = avg(move_away)
        q = [qi - force * (ai - qi) for qi, ai in zip(q, aw)]
    return q


def reranker_dummy(query: str):
    """Deterministic rerank score: token-overlap ratio with the query
    (the reranker-dummy). Returns a pandas_udf over doc text."""
    qtok = set((query or "").lower().split())

    @pandas_udf("double")
    def _score(batch: pd.Series) -> pd.Series:
        def s(t):
            dtok = set((t or "").lower().split())
            return len(qtok & dtok) / (len(qtok) or 1)
        return batch.map(s)

    return _score


RERANKERS["reranker-dummy"] = reranker_dummy


def generative_dummy(prompt_template: str):
    """Per-result generative stage (generative-dummy): fills {text}
    into the template — the plan-stage shape of generative-* modules."""
    @pandas_udf("string")
    def _gen(batch: pd.Series) -> pd.Series:
        return batch.map(lambda t: prompt_template.replace("{text}", t or ""))

    return _gen


GENERATIVES["generative-dummy"] = generative_dummy


# ---------------------------------------------------------------------------
# Result annotator module families (SURVEY §2.10; reference `modules/`
# listing: qna-*, sum-*, ner-*, text-spellcheck). Like the vectorizer /
# reranker / generative families above, the shipped implementations are
# deterministic dummies with the REAL module plan shape — a model-backed
# implementation registers a function with the same signature. All four
# are pure Catalyst column expressions (no UDFs): annotators run over
# top-k result windows, but expression-only stages also scale to
# whole-corpus batch annotation.

QNAS: dict[str, Callable] = {}
SUMMARIZERS: dict[str, Callable] = {}
NERS: dict[str, Callable] = {}
SPELLCHECKERS: dict[str, Callable] = {}


def qna_dummy(text_col: Column, question: str, window: int = 10) -> Column:
    """qna-dummy: extractive answer = the `window`-token chunk of the
    document with the highest distinct-token overlap with the question
    (ties -> earliest chunk). Mirrors the qna-* additional-property
    shape (modules/qna-transformers answer{result, hasAnswer,
    certainty, startPosition, endPosition}); positions here are TOKEN
    offsets, not byte offsets (documented divergence — the corpus is
    token-joined text). Returns a struct column
    (answer, has_answer, certainty, start_token, end_token)."""
    from weaviate_spark.functions.text import tokenize

    toks = tokenize(text_col, "word")
    q = sorted(set(t.lower() for t in question.split()))
    qarr = F.array(*[F.lit(t) for t in q])
    n = F.size(toks)
    chunk_count = F.greatest(F.ceil(n / F.lit(float(window))).cast("int"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), chunk_count - 1),
        lambda i: F.struct(
            (-F.size(F.array_intersect(F.slice(toks, i * window + 1, window), qarr))
             ).alias("_neg"),
            i.alias("_idx"),
            F.array_join(F.slice(toks, i * window + 1, window), " ").alias("_ans"),
        ),
    )
    best = F.element_at(F.array_sort(chunks), 1)
    score = -best["_neg"]
    return F.struct(
        best["_ans"].alias("answer"),
        (score > 0).alias("has_answer"),
        F.round(score / F.lit(float(len(q))), 6).alias("certainty"),
        (best["_idx"] * window).alias("start_token"),
        F.least(best["_idx"] * window + window, n).alias("end_token"),
    )


QNAS["qna-dummy"] = qna_dummy


def sum_dummy(text_col: Column, top: int = 5,
              stopwords: tuple = ("a", "the")) -> Column:
    """sum-dummy: extractive summary = the `top` most frequent
    non-stopword tokens, frequency-desc / token-asc, space-joined
    (modules/sum-transformers summary{property, result} shape)."""
    from weaviate_spark.functions.text import tokenize

    toks = tokenize(text_col, "word")
    sw = F.array(*[F.lit(s) for s in stopwords])
    ranked = F.transform(
        F.array_except(F.array_distinct(toks), sw),
        lambda t: F.struct(
            (-F.size(F.filter(toks, lambda x: x == t))).alias("_neg"),
            t.alias("_tok"),
        ),
    )
    return F.array_join(
        F.transform(F.slice(F.array_sort(ranked), 1, top), lambda s: s["_tok"]),
        " ",
    )


SUMMARIZERS["sum-dummy"] = sum_dummy


# gazetteer for ner-dummy: token -> entity class
NER_GAZETTEER = {
    "spark": "TECH", "vector": "ML", "stream": "INFRA",
    "table": "DB", "query": "DB", "join": "DB",
}


def ner_dummy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """ner-dummy: dictionary (gazetteer) entity tagging — one output row
    per distinct recognized token per document, with the entity class,
    a fixed certainty, and the 0-based index of the token's first
    occurrence (modules/ner-transformers tokens{entity, word,
    startPosition, certainty} shape; token positions, not byte)."""
    from weaviate_spark.functions.text import tokenize

    ent = F.create_map(
        *[F.lit(x) for kv in NER_GAZETTEER.items() for x in kv]
    )
    toks = tokenize(F.col(text_col), "word")
    hits = F.filter(
        F.array_distinct(toks), lambda t: ent.getItem(t).isNotNull()
    )
    return (
        df.select(F.col(id_col), toks.alias("_toks"),
                  F.explode(hits).alias("word"))
        .select(
            id_col,
            "word",
            ent.getItem(F.col("word")).alias("entity"),
            F.lit(0.9).alias("certainty"),
            (F.array_position("_toks", F.col("word")) - 1).alias("start_token"),
        )
    )


NERS["ner-dummy"] = ner_dummy


# static correction dictionary for text-spellcheck-dummy
SPELLCHECK_DICT = {
    "tabel": "table", "qurey": "query", "scann": "scan", "jion": "join",
}


def spellcheck_dummy(query: str) -> dict:
    """text-spellcheck dummy: token-wise correction of the QUERY against
    a fixed dictionary, returning the spellCheck additional-property
    shape (originalText, correctedText, didYouMean, changes). Runs
    driver-side on the query string — exactly where the reference calls
    its spellcheck module before searching (text-spellcheck checks
    query input, not documents)."""
    toks = (query or "").split()
    fixed = [SPELLCHECK_DICT.get(t.lower(), t) for t in toks]
    changes = sum(1 for a, b in zip(toks, fixed) if a != b)
    corrected = " ".join(fixed)
    return {
        "original_text": query,
        "corrected_text": corrected,
        "did_you_mean": corrected if changes else None,
        "changes": changes,
    }


SPELLCHECKERS["text-spellcheck-dummy"] = spellcheck_dummy
