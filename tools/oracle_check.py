#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query output
written by graft.Verify, run the corresponding oracle SQL in DuckDB over
the same parquet tables and compare (sorted columns, sorted rows, exact
for non-floats, tiny tolerance for floats). Dev tool only — the shipped
library has no Python dependency.

Each line carries the oracle's DuckDB wall time. The summary counts the
queries actually compared; the exit status is nonzero when any query
fails OR was never compared (its output or its oracle could not be read
or run), so an oracle that cannot finish turns the gate red instead of
shrinking it.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>
"""
import json, math, sys, time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    uncompared = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            t0 = time.monotonic()
            want = con.execute(sql).df()
        except Exception as e:
            print(f"UNCOMPARED {name}: exec error: {e}")
            uncompared.append(name)
            continue
        oracle_s = time.monotonic() - t0
        ULP_NOTES.clear()
        TYPE_NOTES.clear()
        ok, msg = compare(got, want)
        if ULP_NOTES:
            # tolerance-passes are NOT driver-safe: the driver hashes
            # exact values, so any ulp drift here fails its gate
            print(f"  [WARNING] {name}: {len(ULP_NOTES)} value(s) within "
                  f"tolerance but NOT bit-exact (cols: "
                  f"{sorted(set(c for c, _ in ULP_NOTES))}) — the driver's "
                  f"hash compare WILL fail these")
        if TYPE_NOTES:
            print(f"  [WARNING] {name}: typed-hash divergence — local "
                  f"values match but the driver gate will be red")
        if ok:
            n_pass += 1
            print(f"PASS {name} ({len(got)} rows, oracle {oracle_s:.2f} s)")
        else:
            n_fail += 1
            print(f"FAIL {name} (oracle {oracle_s:.2f} s): {msg}")
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{n_pass + n_fail}/{len(oracle)} compared")
    if uncompared:
        print(f"uncompared: {', '.join(uncompared)}")
    return 1 if n_fail or uncompared else 0


ULP_NOTES = []
TYPE_NOTES = []


def compare(got, want):
    import pandas as pd
    g = got.reindex(sorted(got.columns), axis=1)
    w = want.reindex(sorted(want.columns), axis=1)
    if list(g.columns) != list(w.columns):
        return False, f"columns differ: {list(g.columns)} vs {list(w.columns)}"
    gt = [str(t) for t in g.dtypes]
    wt = [str(t) for t in w.dtypes]
    if gt != wt:
        # The driver's gate hashes TYPED values, so a dtype divergence is
        # fatal there even when the values compare equal here. The q71
        # lesson: DuckDB widens a bare integer SUM to HUGEINT (→ float64
        # or object in pandas) while Spark stays int64 — values equal,
        # driver hash red. Surface every mismatch loudly.
        bad = [(c, a, b) for c, a, b in zip(g.columns, gt, wt) if a != b]
        # ns-vs-us timestamp resolution is a pandas artifact, not a type
        # divergence the driver sees (both sides are TIMESTAMP).
        fatal = [(c, a, b) for c, a, b in bad
                 if not (a.startswith("datetime64") and b.startswith("datetime64"))]
        if fatal:
            TYPE_NOTES.extend(fatal)
            print(f"  [TYPE WARNING] dtype mismatch (driver hash WILL "
                  f"fail): {fatal}")
        elif bad:
            print(f"  [schema note] {bad}")
    if len(g) != len(w):
        return False, f"row count {len(g)} vs {len(w)}"
    # DRIVER-SHAPE GUARD (the q127/q134 round-9 lesson, same class as the
    # round-4 q71 HUGEINT fix): the driver's comparator sorts and hashes
    # raw cells and dies on array/struct/map-typed columns (unhashable
    # numpy.ndarray). This harness used to stringify them — which made
    # the local gate GREEN on exactly the queries the driver fails.
    # Reject non-scalar output columns instead, so the class fails HERE.
    import numpy as np
    for side, df in (("spark", g), ("oracle", w)):
        for c in df.columns:
            if df[c].dtype == object and len(df) and isinstance(
                    df[c].iloc[0], (list, np.ndarray, dict, tuple)):
                return False, (
                    f"{side} column {c!r} is non-scalar "
                    f"({type(df[c].iloc[0]).__name__}) — the driver gate "
                    f"cannot sort/hash it; serialize it (q47 concat_ws ↔ "
                    f"ARRAY_TO_STRING convention) or emit scalar columns")
    g = g.sort_values(by=list(g.columns), ignore_index=True)
    w = w.sort_values(by=list(w.columns), ignore_index=True)
    for c in g.columns:
        gc, wc = g[c], w[c]
        if gc.dtype.kind == "f" or wc.dtype.kind == "f":
            a = gc.astype(float).to_numpy()
            b = wc.astype(float).to_numpy()
            for i, (x, y) in enumerate(zip(a, b)):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y and abs(x - y) > 1e-9 * max(1.0, abs(x), abs(y)):
                    return False, f"col {c} row {i}: {x!r} vs {y!r}"
                if x != y:
                    ULP_NOTES.append((c, i))
                    if len(ULP_NOTES) <= 3:
                        print(f"  [ulp note] col {c} row {i}: {x!r} vs {y!r}")
        else:
            ge = gc.astype(str).to_numpy()
            we = wc.astype(str).to_numpy()
            bad = [(i, x, y) for i, (x, y) in enumerate(zip(ge, we)) if x != y]
            if bad:
                i, x, y = bad[0]
                return False, f"col {c} row {i}: {x!r} vs {y!r} ({len(bad)} diffs)"
    return True, ""


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
