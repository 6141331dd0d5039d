"""Ingest-time bucketed-layout builder: write the physical
bucketBy+sortBy fact tables for a testdata sf_dir ahead of query time
(sources/bucketed.py builds the same artifact lazily per session; on a
real cluster this tool IS the ingest step, run once per data load).

Usage: python tools/bucketize.py [sf_dir] [buckets]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weaviate_spark.session import get_spark  # noqa: E402
from weaviate_spark.sources.bucketed import (  # noqa: E402
    BUCKET_KEYS,
    N_BUCKETS,
    bucketed_table,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    buckets = int(sys.argv[2]) if len(sys.argv) > 2 else N_BUCKETS
    spark = get_spark("bucketize")
    specs = list(BUCKET_KEYS.items()) + [("orders", "o_orderkey")]
    for name, key in specs:
        df = bucketed_table(spark, sf_dir, name, key=key, buckets=buckets)
        print(f"{name} bucketed by {key}: {df.count()} rows, {buckets} buckets")


if __name__ == "__main__":
    main()
