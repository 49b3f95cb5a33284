#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the given sf dir,
compare row count, sorted column names, and order-insensitive values.

Usage: python scripts/check_oracles.py [--json OUT.json] [sf_dir] [query ...]

``--json`` writes a driver-format artifact ({name: {rows_match,
schema_match, hash_match, spark_rows, oracle_rows, err}}) so every
round commits durable rows+schema+values evidence for ALL queries()
entries, not just the subset the driver happens to record
(VERDICT r3 #4).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

# this checkout's entry module and package, wherever it is run from —
# in the driver and in the Python workers the session starts
ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import datetime
    import math
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def frame_signature(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    body = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return names, body


def main():
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    report = {}

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from validatelite_spark.session import get_spark
    spark = get_spark("oracle-check", cpus=8)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None,
                            "err": f"spark: {e}"[:500]}
            failures += 1
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) "
                  f"[{spark_t:.1f}s]")
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None,
                            "spark_rows": len(srows),
                            "oracle_rows": None, "err": None,
                            "no_oracle": True}
            continue
        t0 = time.time()
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False,
                            "spark_rows": len(srows),
                            "oracle_rows": None,
                            "err": f"duckdb: {e}"[:500]}
            failures += 1
            continue
        duck_t = time.time() - t0
        sn, sb = frame_signature(scols, srows)
        dn, db = frame_signature(dcols, drows)
        report[name] = {"rows_match": len(sb) == len(db),
                        "schema_match": sn == dn,
                        "hash_match": sb == db,
                        "spark_rows": len(sb),
                        "oracle_rows": len(db), "err": None}
        if sn != dn:
            print(f"FAIL  {name}: columns differ spark={sn} duck={dn}")
            failures += 1
        elif len(sb) != len(db):
            print(f"FAIL  {name}: rowcount spark={len(sb)} duck={len(db)}")
            failures += 1
        elif sb != db:
            diff = [i for i, (a, b) in enumerate(zip(sb, db)) if a != b][:3]
            print(f"FAIL  {name}: values differ at sorted idx {diff}")
            for i in diff[:2]:
                print(f"      spark: {sb[i]}")
                print(f"      duck : {db[i]}")
            failures += 1
        else:
            print(f"ok    {name}: {len(sb)} rows "
                  f"[spark {spark_t:.1f}s, duck {duck_t:.1f}s]")
    spark.stop()
    if json_out:
        import json as _json
        with open(json_out, "w") as fh:
            _json.dump({"sf_dir": sf_dir, "queries": report,
                        "n_queries": len(report),
                        "n_failures": failures}, fh, indent=1,
                       sort_keys=True)
        print(f"wrote {json_out}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
