"""Throughput lane for the map-only corpus filters added in r11 s2:
Gopher quality rules, C4 page cleaning, and the Arrow-batched object
validator. Each is a single narrow pass over the documents scan, so
docs/sec should hold ~flat from sf0.1 to sf1 (the 100-TB argument:
map-only stages scale with executors, no shuffle to degrade).

Usage: python tools/bench_textfilter.py [out.json]
Writes one JSON object with per-sf, per-op wall-clock + docs/sec.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from weaviate_spark.session import get_spark

SF_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(ROOT, "testdata_sf1"),
    "sf10": os.path.join(ROOT, "testdata_sf10"),
}


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    spark = get_spark("bench-textfilter")
    import __spark_entry__ as E

    queries = E.queries()
    ops = ["text_gopher_rules", "text_c4_page_filter",
           "object_validation_batch"]
    result: dict = {"ops": {}, "unit": "docs/sec"}
    for op in ops:
        result["ops"][op] = {}
        for sf, d in SF_DIRS.items():
            n_docs = spark.read.parquet(f"{d}/documents.parquet").count()
            fn = queries[op]
            fn(spark, d).count()  # warm (plan + code cache)
            t0 = time.time()
            fn(spark, d).count()
            dt = time.time() - t0
            result["ops"][op][sf] = {
                "docs": n_docs,
                "sec": round(dt, 3),
                "docs_per_sec": round(n_docs / dt, 1),
            }
            print(f"{op} {sf}: {n_docs} docs in {dt:.2f}s "
                  f"({n_docs / dt:,.0f} docs/s)")
    line = json.dumps(result)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
