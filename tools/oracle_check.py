"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() twin,
compares row count, column names, and order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir=/root/testdata/sf0.01]
       [only_query ...]

The default is the scale 0.01 TPC-H data (TESTDATA.md), which every
recorded check reads.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    import datetime
    from decimal import Decimal

    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm(r[i]) for i in order))
    return sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from graphlite_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    passed = failed = rows_only = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            failed += 1
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            rows_only += 1
            print(f"rows-only {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failed += 1
            failures.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} vs {sorted(ocols)}")
        elif len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        else:
            sset = _rows_to_set(scols, [[row[c] for c in scols] for row in srows])
            oset = _rows_to_set(ocols, orows)
            if sset != oset:
                diff_a = [r for r in sset if r not in oset][:3]
                diff_b = [r for r in oset if r not in sset][:3]
                problems.append(f"values spark-only={diff_a} oracle-only={diff_b}")
        if problems:
            failed += 1
            failures.append(name)
            print(f"FAIL {name}: {problems[0][:400]}")
        else:
            passed += 1
            print(f"ok   {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
    print(f"\n{passed} passed, {failed} failed, {rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
