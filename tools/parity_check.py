#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB against the same sf dir, then compares
row count, schema (column names), and order-insensitive values
(columns sorted by name, rows sorted, exact string compare after a
canonical repr). Prints one line per query and a final summary.

Usage: python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.4f}"
        return f"{v:.4f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_repr(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return [c for c in sorted(cols)], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry
    from paddleocr_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    spark = get_spark("parity")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    import time
    t_all = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sc, sr = frame_repr(scols, srows)
        dc, dr = frame_repr(dcols, drows)
        if sc != dc:
            print(f"FAIL  {name}: schema {sc} != {dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"FAIL  {name}: rows {len(sr)} != {len(dr)}")
            n_fail += 1
        elif sr != dr:
            diff = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            print(f"FAIL  {name}: values differ at sorted row {diff}:")
            print(f"      spark : {sr[diff]}")
            print(f"      duckdb: {dr[diff]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(sr)} rows  "
                  f"[{time.time() - t0:.1f}s = {t_spark:.1f}s spark + "
                  f"{time.time() - t0 - t_spark:.1f}s duckdb]")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only "
          f"[{time.time() - t_all:.1f}s total] ==")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
