#!/usr/bin/env python3
"""q274_kcore's oracle declares every CTE MATERIALIZED. Each peel round
eN is read twice (by kN+1 and eN+1); inlined, the six chained rounds
re-expand into exponentially many copies and DuckDB runs out of memory
on the real tables. MATERIALIZED changes how DuckDB evaluates the
query, not what it means. This check shows it: it runs the oracle as
written and with MATERIALIZED removed over a hand-built graph small
enough for the inlined form to finish (about 3 minutes on 4 cores), and
fails unless both return the same rows.

The graph is a complete 6x6 customer-supplier core with a 7-edge tail,
so K = 2 and the tail loses one node per round across all six rounds.

Usage: python3 tools/q274_oracle_forms.py
"""
import os
import sys
import time

import duckdb

SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src",
                   "main", "scala", "graft", "queries", "GraphQueries.scala")


def oracle_sql():
    src = open(SRC).read()
    start = src.index('Some("""', src.index('Q("q274_kcore"')) + len('Some("""')
    return src[start:src.index('"""))', start)]


def main():
    materialized = oracle_sql()
    if materialized.count(" AS MATERIALIZED (") != 15:
        print("q274 oracle: expected 15 MATERIALIZED CTEs")
        return 1
    inlined = materialized.replace(" AS MATERIALIZED (", " AS (")
    edges = [(c, s) for c in range(1, 7) for s in range(1, 7)]
    edges += [(7, 1), (7, 7), (8, 7), (8, 8), (9, 8), (9, 9), (10, 9)]
    con = duckdb.connect()
    con.execute("CREATE TABLE orders AS SELECT * FROM (VALUES " + ",".join(
        f"({i}, {c})" for i, (c, _) in enumerate(edges)) +
        ") t(o_orderkey, o_custkey)")
    con.execute("CREATE TABLE lineitem AS SELECT * FROM (VALUES " + ",".join(
        f"({i}, {s})" for i, (_, s) in enumerate(edges)) +
        ") t(l_orderkey, l_suppkey)")
    rows = {}
    for form, sql in (("materialized", materialized), ("inlined", inlined)):
        t0 = time.monotonic()
        rows[form] = con.execute(sql).fetchall()
        print(f"{form}: {len(rows[form])} rows in {time.monotonic() - t0:.2f} s")
    print(rows["materialized"])
    if rows["materialized"] != rows["inlined"]:
        print(f"MISMATCH: inlined form gave {rows['inlined']}")
        return 1
    print("both forms agree")
    return 0


if __name__ == "__main__":
    sys.exit(main())
