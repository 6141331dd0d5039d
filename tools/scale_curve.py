"""Scale-curvature measurement (VERDICT r07 ask #5): run the most
expensive query families at sf0.1 / sf1 / sf10 and grade each family's
sec-vs-sf curvature, so the 100x claim rests on TWO measured scale
steps instead of one.

Per family: engine wall-clock (Spark side only — at sf10 the duckdb
oracle replay of corpus-wide explodes is the bottleneck, and hash
equality is already proven at sf1 by the 255/255 sweep), row count,
and the log-log slope between consecutive steps. Grade: sub-linear
(slope < 0.9), linear (0.9-1.25), super-linear (> 1.25) on the
LAST step (sf1 -> sf10), where fixed overheads have amortized.

Usage: python tools/scale_curve.py [out.json] [query ...]
Expects testdata_sf1 and testdata_sf10 in the checkout (build
with tools/gen_sf.py 10 / 100).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from weaviate_spark.session import get_spark  # noqa: E402

# the top-8 most expensive families from the r07 sf1 sweep
DEFAULT_QUERIES = [
    "curation_dsir_weights",      # corpus-wide hashed-ngram importance
    "text_collocations_pmi",      # corpus bigram explode
    "tokenizer_bpe_encode",       # longest-match encode over all docs
    "stats_bootstrap_ci",         # deliberate x40 replicate explode
    "text_tokens_by_lang",        # lang-id over every doc
    "graph_link_prediction",      # wedge self-join (now hub-capped)
    "graph_kcore_trade",          # iterative peel over trade graph
    "dedup_substring_pairs",      # containment candidate pairs
]

STEPS = [
    ("sf0.1", "/root/testdata/sf0.1", 0.1),
    ("sf1", os.path.join(ROOT, "testdata_sf1"), 1.0),
    ("sf10", os.path.join(ROOT, "testdata_sf10"), 10.0),
]

# SCALE_STEPS=sf10 (comma list) restricts the measured legs — used to
# re-validate single steps under a specific SPARK_DRIVER_MEM budget
# without paying the full matrix again
if os.environ.get("SCALE_STEPS"):
    _keep = set(os.environ["SCALE_STEPS"].split(","))
    STEPS = [s for s in STEPS if s[0] in _keep]


def grade(slope: float) -> str:
    if slope < 0.9:
        return "sub-linear"
    if slope <= 1.25:
        return "linear"
    return "super-linear"


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    names = sys.argv[2:] or DEFAULT_QUERIES
    spark = get_spark("weaviate-spark-scale-curve")

    import __spark_entry__ as E

    queries = E.queries()
    results: dict[str, dict] = {}
    for name in names:
        fn = queries[name]
        fam: dict = {"steps": {}}
        for label, sf_dir, _sf in STEPS:
            if not os.path.isdir(sf_dir):
                fam["steps"][label] = {"err": "missing sf dir"}
                continue
            t0 = time.time()
            rows = fn(spark, sf_dir).count()
            fam["steps"][label] = {
                "sec": round(time.time() - t0, 2), "rows": rows,
            }
            print(f"{name} {label}: {fam['steps'][label]}", flush=True)
        ok = [(sf, fam["steps"][lbl]["sec"])
              for lbl, _d, sf in STEPS
              if "sec" in fam["steps"].get(lbl, {})]
        slopes = []
        for (sf_a, t_a), (sf_b, t_b) in zip(ok, ok[1:]):
            if t_a > 0 and t_b > 0:
                slopes.append(round(
                    math.log(t_b / t_a) / math.log(sf_b / sf_a), 3))
        fam["loglog_slopes"] = slopes
        if slopes:
            fam["grade_last_step"] = grade(slopes[-1])
        results[name] = fam

    doc = {
        "metric": "scale curvature sf0.1 -> sf1 -> sf10 (engine sec)",
        "grades": {n: r.get("grade_last_step") for n, r in results.items()},
        "families": results,
    }
    line = json.dumps(doc)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
