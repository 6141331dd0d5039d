"""End-to-end smoke of the REAL-model module paths (VERDICT r08 ask
#10): when the optional extras are installed, run vectorizer + reranker
+ generative over 10 rows and assert shapes. This container ships
without them, so the script prints SKIP lines instead of failing —
CI-when-available runs it green.

Usage: python tools/real_model_smoke.py [out.json]
Exit 0 = every available path passed (or was skipped); 1 = a path that
imported cleanly produced wrong shapes. With ``out.json``, the
per-module SKIP/PASS/FAIL statuses are also written as JSON — the
per-round evidence file (SMOKE_r{N}.json) that flips automatically
the round the extras appear.

Covers (weaviate_spark/modules_models.py):
* text2vec-transformers  (sentence-transformers vectorizer UDF)
* reranker-transformers  (cross-encoder score UDF)
* generative-transformers (text2text pipeline UDF)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import functions as F

    from weaviate_spark.session import get_spark

    spark = get_spark("local[4]")
    rows = [(i, f"document number {i} about spark engines") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    failures = 0
    statuses: dict[str, str] = {}

    def available(*mods: str) -> bool:
        # the module-path ImportErrors raise lazily on EXECUTORS (the
        # model loads inside the UDF) — probe driver-side first so a
        # missing extra prints SKIP instead of a Py4J stack
        import importlib.util
        return all(importlib.util.find_spec(m) for m in mods)

    # --- vectorizer ------------------------------------------------------
    try:
        if not available("sentence_transformers"):
            raise ImportError("optional extra 'sentence-transformers' not installed")
        from weaviate_spark.modules_models import sentence_transformer_udf

        udf = sentence_transformer_udf()
        out = df.select("doc_id", udf(F.col("text")).alias("v")).collect()
        dims = {len(r["v"]) for r in out}
        assert len(out) == 10 and len(dims) == 1 and dims.pop() >= 128, out
        statuses["text2vec-transformers"] = "PASS"
        print("PASS text2vec-transformers: 10 rows, constant dim")
    except ImportError as exc:
        statuses["text2vec-transformers"] = f"SKIP: {exc}"
        print(f"SKIP text2vec-transformers: {exc}")
    except AssertionError as exc:
        statuses["text2vec-transformers"] = f"FAIL: {exc}"
        print(f"FAIL text2vec-transformers: bad shapes: {exc}")
        failures += 1

    # --- reranker --------------------------------------------------------
    try:
        if not available("sentence_transformers"):
            raise ImportError("optional extra 'sentence-transformers' not installed")
        from weaviate_spark.modules_models import cross_encoder_rerank_udf

        udf = cross_encoder_rerank_udf()
        out = df.select(
            udf(F.lit("spark engines"), F.col("text")).alias("s")).collect()
        scores = [r["s"] for r in out]
        assert len(scores) == 10 and all(
            isinstance(s, float) for s in scores), scores
        statuses["reranker-transformers"] = "PASS"
        print("PASS reranker-transformers: 10 float scores")
    except ImportError as exc:
        statuses["reranker-transformers"] = f"SKIP: {exc}"
        print(f"SKIP reranker-transformers: {exc}")
    except AssertionError as exc:
        statuses["reranker-transformers"] = f"FAIL: {exc}"
        print(f"FAIL reranker-transformers: {exc}")
        failures += 1

    # --- generative ------------------------------------------------------
    try:
        if not available("transformers"):
            raise ImportError("optional extra 'transformers' not installed")
        from weaviate_spark.modules_models import text2text_generate_udf

        udf = text2text_generate_udf()
        out = df.limit(3).select(
            udf(F.concat(F.lit("summarize: "), F.col("text"))).alias("g")
        ).collect()
        assert len(out) == 3 and all(
            isinstance(r["g"], str) and r["g"] for r in out), out
        statuses["generative-transformers"] = "PASS"
        print("PASS generative-transformers: 3 non-empty generations")
    except ImportError as exc:
        statuses["generative-transformers"] = f"SKIP: {exc}"
        print(f"SKIP generative-transformers: {exc}")
    except AssertionError as exc:
        statuses["generative-transformers"] = f"FAIL: {exc}"
        print(f"FAIL generative-transformers: {exc}")
        failures += 1

    if len(sys.argv) > 1:
        import json

        with open(sys.argv[1], "w") as fh:
            json.dump({"modules": statuses,
                       "failures": failures}, fh, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
