#!/usr/bin/env python3
"""Cross-checks the results behind the recorded fingerprints against the
DuckDB oracle twins (`SparkEntry.oracleSql`).

    python3 perfbench/run.py --record        # writes results + oracle_sql.json
    python3 perfbench/oracle_check.py [sf_dir]

Compares each recorded Spark result with DuckDB's answer to the twin SQL on
the same parquet tables, order-insensitively (the fingerprint is too): same
columns, same multiset of rows, values compared exactly. Exits 1 on any
mismatch. Queries without a twin are listed as unchecked.

A DATE equals the TIMESTAMP at its midnight: DuckDB 1.0 returns DATE from
date_trunc('day', <TIMESTAMP_NS column>) where Spark returns the truncated
timestamp (events.ts is stored with nanosecond precision).
"""
import datetime
import json
import math
import sys
from pathlib import Path

import duckdb

RECORD = Path(".bench_build/perfbench/record")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if type(v) is datetime.date:
        return datetime.datetime(v.year, v.month, v.day)
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def rows(con, sql):
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(data, key=repr)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else str(Path.home() / "testdata" / "sf0.1")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.loads((RECORD / "oracle_sql.json").read_text())
    recorded = sorted(p.name for p in RECORD.iterdir() if p.is_dir())
    bad = 0
    for q in recorded:
        if q not in oracle:
            print(f"--   {q}: no oracle twin")
            continue
        got_cols, got = rows(con, f"SELECT * FROM '{RECORD / q}/*.parquet'")
        want_cols, want = rows(con, oracle[q])
        if got_cols != want_cols or got != want:
            bad += 1
            print(f"FAIL {q}: cols {got_cols == want_cols}, rows spark={len(got)} oracle={len(want)}")
        else:
            print(f"OK   {q}: {len(got)} rows")
    print(f"{bad} mismatches over {sum(q in oracle for q in recorded)} twins")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
