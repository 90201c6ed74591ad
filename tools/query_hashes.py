#!/usr/bin/env python
"""Print one ``name md5`` line per gate query: the refactor check.

Runs every ``__spark_entry__.queries()`` entry (or only the names
given) against one sf dir and hashes its result with the canon of
``tests/test_partition_invariance._canon_hash``: columns sorted by
name, each row the ``repr`` of its value tuple, rows sorted, md5 of the
newline-joined rows. A refactor that claims to preserve behaviour
diffs this output before and after the change at two SFs:

    python tools/query_hashes.py <sf_dir> > before.txt
    ... apply the change ...
    python tools/query_hashes.py <sf_dir> > after.txt
    diff before.txt after.txt

A query that raises prints ``name ERROR <exception class>``.

``--sql`` in place of the sf dir prints one ``name md5`` line per
``oracle_sql()`` entry instead, hashing the DuckDB twin's SQL text with
the fixture root (``entry_queries.FIXTURE_DIR``) replaced by a fixed
placeholder, so two checkouts in different directories compare. It
starts no Spark session (seconds, not minutes):

    python tools/query_hashes.py --sql > after_sql.txt

Usage: python tools/query_hashes.py (<sf_dir> | --sql) [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_hash(df) -> str:
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def sql_hashes(only: set[str]) -> int:
    import __spark_entry__ as entry
    from paddleocr_spark.entry_queries import FIXTURE_DIR

    for name, sql in entry.oracle_sql().items():
        if only and name not in only:
            continue
        sql = sql.replace(FIXTURE_DIR, "<FIXTURE_DIR>")
        print(f"{name} {hashlib.md5(sql.encode()).hexdigest()}")
    return 0


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    sf_dir, only = sys.argv[1], set(sys.argv[2:])
    if sf_dir == "--sql":
        return sql_hashes(only)

    import __spark_entry__ as entry
    from paddleocr_spark.session import get_spark

    spark = get_spark("query_hashes")
    spark.sparkContext.setLogLevel("ERROR")
    n_err = 0
    try:
        for name, fn in entry.queries().items():
            if only and name not in only:
                continue
            try:
                h = canon_hash(fn(spark, sf_dir))
            except Exception as e:  # noqa: BLE001
                h = f"ERROR {type(e).__name__}"
                n_err += 1
            print(f"{name} {h}", flush=True)
    finally:
        spark.stop()
    return 1 if n_err else 0


if __name__ == "__main__":
    sys.exit(main())
