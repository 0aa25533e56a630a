#!/usr/bin/env python3
"""Driver-style correctness check (local dev loop).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Replicates what the round driver does: for each query parquet dumped by
graft.Verify, run the corresponding oracle SQL from oracle_sql.json in
DuckDB against views named after the raw tables, sort columns by name,
sort rows, and compare values exactly. Each line of an entry whose oracle
ran ends with that oracle's DuckDB seconds, "(oracle 1.23s)".
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_rows_only = 0
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(qdir.rstrip("/"))
        if only and name not in only:
            continue
        try:
            got = pd.concat([pd.read_parquet(f) for f in
                             glob.glob(f"{qdir}/*.parquet")], ignore_index=True)
        except ValueError:
            print(f"FAIL  {name}: no parquet output"); n_fail += 1; continue
        if name not in oracles:
            status = "ROWS" if len(got) > 0 else "EMPTY"
            print(f"{status}  {name}: {len(got)} rows (no oracle)")
            n_rows_only += 1
            continue
        t0 = time.perf_counter()
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}"); n_fail += 1; continue
        took = f" (oracle {time.perf_counter() - t0:.2f}s)"
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} != {list(e.columns)}{took}")
            n_fail += 1; continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows {len(g)} != {len(e)}{took}"); n_fail += 1; continue
        # Driver-faithful dtype gate: the driver hashes values WITH their
        # dtype, so an int64 Spark column vs a float64 oracle column (the
        # classic DuckDB SUM(BIGINT)->HUGEINT->float64 trap) hash-FAILs
        # even when every value compares equal. Refuse the cross-dtype
        # compare outright — this bug class produced the only driver
        # failures in rounds 7 AND 8.
        dt_bad = []
        for c in g.columns:
            gi, ei = pd.api.types.is_integer_dtype(g[c]), pd.api.types.is_integer_dtype(e[c])
            gf, ef = pd.api.types.is_float_dtype(g[c]), pd.api.types.is_float_dtype(e[c])
            if (gi and ef) or (gf and ei):
                dt_bad.append(f"{c}: spark {g[c].dtype} vs oracle {e[c].dtype}")
        if dt_bad:
            print(f"FAIL  {name}: dtype mismatch (driver hash would fail) — "
                  f"{'; '.join(dt_bad)}{took}")
            n_fail += 1; continue
        bad = []
        for c in g.columns:
            a, b = g[c].values, e[c].values
            if pd.api.types.is_float_dtype(g[c]) and pd.api.types.is_float_dtype(e[c]):
                # NaN-aware, tight-tolerance compare: the driver hashes
                # exact values, but locally a few-ulp report beats a flood
                # of spurious FAILs when iterating on float queries.
                af, bf = a.astype("float64"), b.astype("float64")
                nan_ok = np.isnan(af) & np.isnan(bf)
                close = np.isclose(af, bf, rtol=1e-12, atol=1e-12)
                exact = af == bf
                mism = ~(exact | nan_ok) & ~close
                loose = ~(exact | nan_ok) & close
                if loose.any() and not mism.any():
                    i = int(np.argmax(loose))
                    print(f"WARN  {name}.{c}: {int(loose.sum())} rows differ only within "
                          f"tolerance (e.g. row {i}: {af[i]!r} vs {bf[i]!r}) — "
                          f"still FAIL: the driver hashes exact values")
                # the driver's exact hash fails on any difference, so
                # loose rows fail too; the example row must come from the
                # union (a loose-only column would otherwise print an
                # exactly-matching row 0 as its "mismatch")
                diff = mism | loose
            else:
                nan_ok = pd.isna(pd.Series(a)).values & pd.isna(pd.Series(b)).values
                eq = (pd.Series(a).fillna(0) == pd.Series(b).fillna(0)).values
                same_na = (pd.isna(pd.Series(a)).values == pd.isna(pd.Series(b)).values)
                diff = ~((eq & same_na) | nan_ok)
            if diff.any():
                i = int(np.argmax(diff))
                bad.append(f"{c} (e.g. row {i}: {a[i]!r} != {b[i]!r})")
        if bad:
            print(f"FAIL  {name}: value mismatch in {', '.join(bad)}{took}"); n_fail += 1
        else:
            print(f"PASS  {name}: {len(g)} rows{took}"); n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
