"""Simulate the driver's verify pass: run entry(spark) smoke, then every
queries()[name] at sf0.01 against oracle_sql()[name] via duckdb —
row-count + schema + order-insensitive value-hash.

Usage: python tools/driver_check.py [sf_dir] [query ...]
Set DRIVER_CHECK_JSON=<path> to also write a CORRECTNESS-style JSON
(per-query rows/schema/hash flags + timings) — used for the sf1
scale-step evidence file.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as E
from weaviate_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(pdf) -> str:
    """Order-insensitive value hash, floats at 6dp — same cell formatting
    as the driver's per-row loop ("%.6f" for float cells, str() for the
    rest), but vectorized per column: the itertuples version took tens
    of minutes on multi-million-row scale-step results."""
    import numpy as np

    if len(pdf) == 0:
        return hashlib.md5(b"").hexdigest()
    cols = sorted(pdf.columns)
    parts = []
    for c in cols:
        s = pdf[c]
        if s.dtype.kind == "f":
            parts.append(np.char.mod("%.6f", s.to_numpy()))
        else:
            parts.append(s.astype(str).to_numpy().astype("U"))
    rows = parts[0]
    for p in parts[1:]:
        rows = np.char.add(np.char.add(rows, "|"), p)
    rows = np.sort(rows)
    return hashlib.md5("\n".join(rows.tolist()).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # DRIVER_CHECK_EXCLUDE: comma list of queries to skip — used by the
    # sf1 scale sweep to exclude the quadratic-ORACLE dedup stress
    # queries (their duckdb mirrors are deliberately O(n^2); the engine
    # paths stay covered at sf0.01 every round)
    exclude = {q for q in os.environ.get(
        "DRIVER_CHECK_EXCLUDE", "").split(",") if q}
    spark = get_spark("driver-check")

    t0 = time.time()
    res = E.entry(spark)
    n = res.count()
    print(f"entry(): {n} rows, schema={[f.name for f in res.schema.fields]}, {time.time()-t0:.1f}s")
    assert n >= 0

    con = duckdb.connect()
    # big sf1 oracles (quadratic dedup joins) otherwise spill unboundedly
    # and can fill the disk under concurrent Spark load: give DuckDB a
    # generous in-memory budget and a hard temp ceiling so a runaway
    # oracle fails ITS query instead of the machine
    for pragma in ("SET memory_limit='64GB'",
                   "SET max_temp_directory_size='60GiB'"):
        try:
            con.execute(pragma)
        except Exception:
            pass
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    passed = failed = rows_only = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in exclude:
            continue
        rec = {"rows_match": False, "schema_match": False, "hash_match": False,
               "spark_rows": None, "oracle_rows": None, "err": None,
               "spark_sec": None}
        report[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"  FAIL {name}: spark raised {type(ex).__name__}: {ex}")
            rec["err"] = f"spark: {type(ex).__name__}: {ex}"[:300]
            failed += 1
            continue
        el = time.time() - t0
        rec["spark_rows"] = len(sdf)
        rec["spark_sec"] = round(el, 2)
        if name not in oracles:
            print(f"  rows-only {name}: {len(sdf)} rows ({el:.1f}s)")
            rec["err"] = "rows-only (no oracle by design)"
            rec["rows_match"] = rec["schema_match"] = rec["hash_match"] = None
            rows_only += 1
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"  FAIL {name}: oracle raised {ex}")
            rec["err"] = f"oracle: {ex}"[:300]
            failed += 1
            continue
        rec["oracle_rows"] = len(ddf)
        sc, dc = sorted(sdf.columns), sorted(ddf.columns)
        rec["schema_match"] = sc == dc
        if sc != dc:
            print(f"  FAIL {name}: columns {sc} vs {dc}")
            failed += 1
            continue
        rec["rows_match"] = len(sdf) == len(ddf)
        if len(sdf) != len(ddf):
            print(f"  FAIL {name}: rowcount {len(sdf)} vs {len(ddf)}")
            failed += 1
            continue
        hs, hd = value_hash(sdf), value_hash(ddf)
        rec["hash_match"] = hs == hd
        if hs != hd:
            print(f"  FAIL {name}: value hash mismatch ({len(sdf)} rows)")
            # show a diff sample
            import pandas as pd
            a = sdf[sc].sort_values(by=sc, ignore_index=True)
            b = ddf[sc].sort_values(by=sc, ignore_index=True)
            neq = (a.astype(str) != b.astype(str)).any(axis=1)
            print(pd.concat([a[neq].head(3), b[neq].head(3)], keys=["spark", "duck"]))
            failed += 1
            continue
        print(f"  PASS {name}: {len(sdf)} rows hash={hs[:10]} ({el:.1f}s)")
        passed += 1

    print(f"== {passed} passed, {failed} failed, {rows_only} rows-only ==")
    import json
    out = os.environ.get("DRIVER_CHECK_JSON")
    if out:
        with open(out, "w") as f:
            json.dump({"sf_dir": sf_dir, "passed": passed, "failed": failed,
                       "rows_only": rows_only, "queries": report}, f, indent=1)
        print(f"wrote {out}")
    # release the JVM before exit so a bench/evidence run started right
    # after this sweep doesn't inherit a winding-down JVM's CPU load
    # (r10 verdict finding #1 — same fix as bench.py)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
