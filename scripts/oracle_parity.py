#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet, comparing:
  1. row count
  2. sorted column names
  3. order-insensitive value hash (columns sorted by name, every value
     canonicalized to a string, rows sorted, sha256)

Usage: python3 scripts/oracle_parity.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers start in the JVM's working directory: point them at the
# same checkout so kernels import the code under test from any cwd
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)


def canon(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except Exception:
        pass
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as E
    from anomalydetection_spark import get_spark
    from anomalydetection_spark.sources.tables import TESTDATA_TABLES

    spark = get_spark("oracle-parity", master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = E.queries()
    osql = E.oracle_sql()
    names = args.names or list(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in osql:
            print(f"SKIP {name}: no oracle (rows-only) — spark rows={len(srows)}")
            continue
        try:
            res = con.sql(osql[name])
            ocols = list(res.columns)
            otypes = [str(t) for t in res.types]
            orows = res.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        # The driver's canonicalizer renders DuckDB HUGEINT/DECIMAL unlike
        # BIGINT/DOUBLE (round-1 lesson: 11 hash-fails from bare SUM(int)).
        # Treat any such oracle output column as a hard failure locally.
        risky = {c: t for c, t in zip(ocols, otypes) if "HUGEINT" in t or "DECIMAL" in t}
        if risky:
            problems.append(f"oracle emits driver-unsafe types {risky} — CAST to BIGINT/DOUBLE")
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        else:
            sh = value_hash(scols, srows)
            oh = value_hash(ocols, orows)
            if sh != oh:
                problems.append(f"hash {sh} != {oh}")
                # show first differing canonical line
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x01".join(canon(r[i]) for i in order_s) for r in srows)
                lo = sorted("\x01".join(canon(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        problems.append(f"  spark : {a.replace(chr(1), ' | ')[:220]}")
                        problems.append(f"  duckdb: {b.replace(chr(1), ' | ')[:220]}")
                        break
                if len(ls) != len(lo):
                    problems.append(f"  (row sets differ in size)")
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print("      " + p)
            failures.append(name)
        else:
            print(f"OK   {name} ({dt:.1f}s): rows={len(srows)}")
    spark.stop()
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
