#!/usr/bin/env python3
"""Round-close oracle gate: run every __spark_entry__.queries() entry vs
its DuckDB oracle_sql() twin and compare values exactly, the way the
driver does (columns sorted by name, rows sorted, value-level equality).

Why this exists: the r5 gate ran at local[8] and missed a crash that only
reproduces at local[32] partitioning (select_by_class empty-batch Arrow
conversion, VERDICT r5 #1). The gate now defaults to the DRIVER's
parallelism so partitioning-dependent failures surface before a round
closes.

Usage:
    python tools/oracle_gate.py [--sf /root/testdata/sf0.01] [--master local[32]]
                                [--only q1,q2] [--shuffle-partitions 32]
Exit code 0 iff every query matches (rows, schema arity, values).

The fresh-seed fuzz campaigns that earlier round closes ran against the
compiled reference (tools/mega_fuzz.py and per-surface drivers) need
that reference, which is not available, so the gate is the oracle sweep
alone.
"""
from __future__ import annotations

import argparse
import math
import sys
import time
from decimal import Decimal

import duckdb

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _norm(v):
    """Normalize a cell for cross-engine compare (driver-equivalent)."""
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver hashes repr of round(x, 9); keep the same tolerance
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if v is None:
        return None
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return str(v)


def _rows_sorted(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--master", default="local[32]")
    ap.add_argument("--shuffle-partitions", default="32")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(args.master)
             .config("spark.sql.shuffle.partitions", args.shuffle_partitions)
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{args.sf}/{t}.parquet')")
        except Exception:
            pass

    sys.path.insert(0, ".")
    import __spark_entry__ as e
    queries, oracles = e.queries(), e.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = 0
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if not callable(fn):
            print(f"FAIL {name}: queries() entry is not callable "
                  f"({type(fn).__name__})")
            n_fail += 1
            failures.append(name)
            continue
        t0 = time.time()
        try:
            df = fn(spark, args.sf)
            snames = df.columns
            srows = df.collect()
        except Exception as ex:
            print(f"FAIL {name}: spark raised "
                  f"{type(ex).__name__}: {str(ex)[:200]}")
            n_fail += 1
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"pass {name}: rows-only ({len(srows)}) "
                  f"[no oracle] {time.time()-t0:.2f}s")
            n_pass += 1
            continue
        cur = con.execute(sql)
        onames = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if len(srows) != len(orows):
            print(f"FAIL {name}: rows {len(srows)} vs oracle {len(orows)}")
            n_fail += 1
            failures.append(name)
            continue
        if sorted(snames) != sorted(onames):
            print(f"FAIL {name}: columns {sorted(snames)} vs {sorted(onames)}")
            n_fail += 1
            failures.append(name)
            continue
        a = _rows_sorted(snames, srows)
        b = _rows_sorted(onames, orows)
        if a != b:
            bad = next(i for i in range(len(a)) if a[i] != b[i])
            print(f"FAIL {name}: value mismatch at sorted row {bad}:\n"
                  f"  spark : {a[bad]}\n  oracle: {b[bad]}")
            n_fail += 1
            failures.append(name)
            continue
        print(f"pass {name}: {len(srows)} rows exact {time.time()-t0:.2f}s")
        n_pass += 1

    print(f"\n{n_pass} pass / {n_fail} fail"
          + (f"  FAILURES: {failures}" if failures else ""))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
