#!/usr/bin/env python3
"""q279_suffix_array's oracle ranks only the suffixes whose 64-character
prefix is at most the 500th smallest 64-character prefix, then sorts
those by their full text. This is exact. A suffix that sorts before
another has a prefix no larger, so the 500 smallest suffixes have the
500 smallest prefixes and all pass the cut, and so does every suffix
that sorts before one of them. Within that set each of them therefore
gets the rank it has among all suffixes. The cut changes how DuckDB
evaluates the query, not what it means; it keeps the sort (and its
spill files) to about 500 rows where the full form sorts every suffix
of the corpus.

This check runs the oracle as written and in the full-sort form (the
cut removed) over the same tables, and fails unless both return the
same 500 rows. Run it at sf0.01: at sf0.1 the full-sort form spills
more than the disk holds.

Usage: python3 tools/q279_oracle_forms.py <sfDir>
"""
import os
import sys
import time

import duckdb

SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src",
                   "main", "scala", "graft", "queries", "DedupQueries.scala")

CUT_CTES = """      pre AS (
        SELECT i, SUBSTRING(corpus.s, CAST(i + 1 AS INT), 64) AS p
        FROM pos, corpus),
      cut AS (
        SELECT MAX(p) AS c FROM (SELECT p FROM pre ORDER BY p LIMIT 500)),
"""
CUT_FROM = "FROM pre, cut, corpus WHERE pre.p <= cut.c)"


def oracle_sql():
    src = open(SRC).read()
    start = src.index('Some("""', src.index('Q("q279_suffix_array"')) + len('Some("""')
    return src[start:src.index('"""))', start)]


def main(sf_dir):
    bounded = oracle_sql()
    if CUT_CTES not in bounded or CUT_FROM not in bounded:
        print("q279 oracle: the bounded-prefix cut is not in the expected form")
        return 1
    full = bounded.replace(CUT_CTES, "").replace(CUT_FROM, "FROM pos, corpus)")
    con = duckdb.connect()
    con.execute("SET memory_limit = '4GB'")
    con.execute("SET threads = 4")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    rows = {}
    for form, sql in (("bounded", bounded), ("full sort", full)):
        t0 = time.monotonic()
        rows[form] = con.execute(sql).fetchall()
        print(f"{form}: {len(rows[form])} rows in {time.monotonic() - t0:.2f} s")
    if len(rows["bounded"]) != 500:
        print(f"expected 500 rows, got {len(rows['bounded'])}")
        return 1
    if rows["bounded"] != rows["full sort"]:
        diff = [(a, b) for a, b in zip(rows["bounded"], rows["full sort"]) if a != b]
        print(f"MISMATCH: first differing rows {diff[:5]}")
        return 1
    print("both forms agree")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1]))
