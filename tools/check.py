#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate.

Usage: python3 tools/check.py [sfdir] [outdir]

Runs DuckDB on each oracle_sql.json entry against the same parquet tables and
compares row count, column names, dtypes, and values (sorted columns, sorted
rows) against the Verify.scala parquet dumps.

Hardened to the driver's strictness (round-3 verdict item 2):
- dtype-SENSITIVE: a DuckDB HUGEINT (from `sum(BIGINT)` / `//` on window
  sums) vs a Spark BIGINT is a FAILURE even when values are equal — the
  driver's hasher is representation-sensitive. Fix the oracle with CAST.
- signed-zero-SENSITIVE: -0.0 vs +0.0 in float columns is a FAILURE
  (`round(x, 6)` preserves the sign bit; Spark and DuckDB can disagree on
  summation order). Fix with `round(x, d) + 0.0` on BOTH engines.
- near-boundary audit: any float cell within 1e-9 of zero is flagged as a
  WARNING (sign-flip risk under different parallelism), and any float
  column whose values are NOT stable under round(x, 9) is flagged (value
  carries >9 significant decimals — likely an un-rounded expression whose
  low bits depend on summation order).

An oracle still running after ORACLE_BUDGET_S seconds is interrupted and run
again with DuckDB's join-order optimizer off (`SET disabled_optimizers =
'join_order'`), and the summary names every oracle that needed this. The
oracle SQL and the comparison are unchanged. At sf0.1, q299's `pairs` CTE is
the known case: join ordering plans a nested-loop join that grows 100x per
10x of data, where the written order runs three hash joins.
"""
import json
import sys
import threading
import time

import duckdb
import numpy as np
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ORACLE_BUDGET_S = 60


def run_oracle(con, sql):
    """The oracle's result frame, and whether it had to be run again with
    join ordering off because the first run went over ORACLE_BUDGET_S."""
    timer = threading.Timer(ORACLE_BUDGET_S, con.interrupt)
    timer.start()
    try:
        return con.sql(sql).df(), False
    except duckdb.InterruptException:
        pass
    finally:
        timer.cancel()
    con.sql("SET disabled_optimizers = 'join_order'")
    try:
        return con.sql(sql).df(), True
    finally:
        con.sql("RESET disabled_optimizers")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def dtype_name(dt) -> str:
    """Canonical dtype label. object stays object (HUGEINT/decimal leak
    through DuckDB's .df() as object or float128-ish — any non-primitive
    representation must be flagged, since the driver hashes representation)."""
    return str(dt)


def signbit_mismatch(g: pd.Series, e: pd.Series):
    """Return index list where values are equal but sign bits differ
    (i.e. -0.0 vs +0.0, the only way equal floats have different bits
    besides NaN payloads)."""
    gv, ev = g.to_numpy(), e.to_numpy()
    if gv.dtype.kind != "f" or ev.dtype.kind != "f":
        return []
    eq = (gv == ev) | (np.isnan(gv) & np.isnan(ev))
    sb = np.signbit(gv) != np.signbit(ev)
    return list(np.nonzero(eq & sb)[0])


def near_boundary_warnings(name: str, df: pd.DataFrame):
    warns = []
    for c in df.columns:
        s = df[c]
        if s.dtype.kind != "f":
            continue
        v = s.to_numpy()
        finite = v[np.isfinite(v)]
        if finite.size == 0:
            continue
        near_zero = finite[(finite != 0.0) & (np.abs(finite) < 1e-9)]
        if near_zero.size:
            warns.append(f"{name}.{c}: {near_zero.size} cell(s) within 1e-9 "
                         f"of zero (sign-flip risk, e.g. {near_zero[0]:.3e})")
        # values that are not stable under 9-decimal rounding carry
        # summation-order noise in their low bits; only meaningful below
        # ~1e6 magnitude (above that, v*1e9 exceeds double precision and
        # np.round(v, 9) != v spuriously — large exact aggregates are not
        # the flake class this audit hunts)
        small = finite[np.abs(finite) < 1e6]
        unstable = small[~np.isclose(small, np.round(small, 9),
                                     rtol=0, atol=0)]
        if unstable.size:
            warns.append(f"{name}.{c}: {unstable.size} cell(s) carry >9 "
                         f"significant decimals (un-rounded float, "
                         f"e.g. {unstable[0]!r})")
    return warns


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    failures = []
    warnings = []
    reordered = []
    t0 = time.monotonic()
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{OUT}/{name}")
        except Exception as e:
            failures.append((name, f"spark result missing: {e}"))
            continue
        try:
            exp, fallback = run_oracle(con, sql)
        except Exception as e:
            failures.append((name, f"oracle failed: {e}"))
            continue
        if fallback:
            reordered.append(name)
        if sorted(got.columns) != sorted(exp.columns):
            failures.append((name, f"cols: spark={sorted(got.columns)} oracle={sorted(exp.columns)}"))
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows: spark={len(got)} oracle={len(exp)}"))
            continue
        g, e = canon(got), canon(exp)
        # dtype-sensitive gate (HUGEINT / DECIMAL / object leaks)
        dt_bad = [(c, dtype_name(g[c].dtype), dtype_name(e[c].dtype))
                  for c in g.columns
                  if dtype_name(g[c].dtype) != dtype_name(e[c].dtype)]
        if dt_bad:
            failures.append((name, "dtype: " + "; ".join(
                f"{c}: spark={a} oracle={b}" for c, a, b in dt_bad)))
            continue
        # signed-zero gate
        sz = []
        for c in g.columns:
            idx = signbit_mismatch(g[c], e[c])
            if idx:
                sz.append(f"{c}@rows{idx[:3]}")
        if sz:
            failures.append((name, f"signed-zero mismatch (-0.0 vs +0.0): {sz}"))
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            warnings.extend(near_boundary_warnings(name, g))
            print(f"  OK {name}: {len(got)} rows")
        except AssertionError as ae:
            # retry with tolerance to report severity
            try:
                pd.testing.assert_frame_equal(g, e, check_dtype=False, atol=1e-9, rtol=1e-12)
                failures.append((name, "values differ only within 1e-9 (rounding edge)"))
            except AssertionError:
                failures.append((name, f"values differ: {str(ae).splitlines()[-1] if str(ae) else ae}"))

    rows_only = []
    import os
    for d in sorted(os.listdir(OUT)):
        if d not in oracle and os.path.isdir(os.path.join(OUT, d)):
            try:
                n = len(pd.read_parquet(os.path.join(OUT, d)))
                rows_only.append((d, n))
                print(f"  rows-only {d}: {n} rows" + ("  ** EMPTY **" if n == 0 else ""))
            except Exception as ex:
                failures.append((d, f"rows-only read failed: {ex}"))

    print()
    print(f"oracles run in {time.monotonic() - t0:.0f} s; "
          f"{len(reordered)} over the {ORACLE_BUDGET_S} s budget, run again "
          f"with join ordering off: {', '.join(reordered) or 'none'}")
    if warnings:
        print(f"NEAR-BOUNDARY WARNINGS ({len(warnings)}):")
        for w in warnings:
            print(f"  WARN {w}")
        print()
    if failures:
        print(f"FAILURES ({len(failures)}):")
        for name, why in failures:
            print(f"  FAIL {name}: {why[:500]}")
        sys.exit(1)
    empty = [d for d, n in rows_only if n == 0]
    if empty:
        print(f"EMPTY rows-only results: {empty}")
        sys.exit(1)
    print(f"ALL {len(oracle)} oracle queries match; {len(rows_only)} rows-only non-empty; "
          f"{len(warnings)} near-boundary warnings.")


if __name__ == "__main__":
    main()
