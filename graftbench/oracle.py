"""DuckDB oracle comparison for the analytics_mix check pass.

Each registry entry's output (parquet, written by the check pass) is
compared with its oracle SQL run in DuckDB over the same generated
tables, with the canonical compare of the repository's tools/check.py:
its canon() (columns sorted by name, rows sorted, dtypes normalised),
integer and float columns kept apart, and every value compared exactly.
A float that differs from the oracle in any bit fails, even within a
few ulp, because tools/check.py fails such rows too; NaN equals NaN.
"""
import glob
import importlib.util
import json
import os

import duckdb
import numpy as np
import pandas as pd


def check_module(root):
    """tools/check.py of the graft checkout at root."""
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def mismatch(canon, got, exp):
    """None when the outputs agree, else a one-line reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    if len(g) == 0:
        return "empty output"
    for c in g.columns:
        gi, ei = pd.api.types.is_integer_dtype(g[c]), pd.api.types.is_integer_dtype(e[c])
        gf, ef = pd.api.types.is_float_dtype(g[c]), pd.api.types.is_float_dtype(e[c])
        if (gi and ef) or (gf and ei):
            return f"dtype of {c}: {g[c].dtype} vs {e[c].dtype}"
        a, b = g[c].values, e[c].values
        if gf and ef:
            af, bf = a.astype("float64"), b.astype("float64")
            ok = (af == bf) | (np.isnan(af) & np.isnan(bf))
        else:
            sa, sb = pd.Series(a), pd.Series(b)
            ok = ((sa.fillna(0) == sb.fillna(0)).values & (sa.isna().values == sb.isna().values))
        if not ok.all():
            i = int(np.argmax(~ok))
            return f"value of {c} in row {i}: {a[i]!r} != {b[i]!r}"
    return None


def compare(root, tables_dir, check_dir, alter_one_row=False):
    """Returns {entry: reason} for every entry whose output is wrong.

    With alter_one_row, one value of the first entry's output is changed
    before the compare (the fault mode that tests this check)."""
    canon = check_module(root).canon
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for i, (entry, sql) in enumerate(sorted(oracles.items())):
        files = glob.glob(os.path.join(check_dir, entry, "*.parquet"))
        if not files:
            bad[entry] = "no output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if alter_one_row and i == 0 and len(got):
            c = got.columns[0]
            v = got.at[0, c]
            got.at[0, c] = (v + 1) if isinstance(v, (int, float, np.number)) else f"{v}~"
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[entry] = f"oracle error: {e}"
            continue
        reason = mismatch(canon, got, exp)
        if reason:
            bad[entry] = reason
    return bad
