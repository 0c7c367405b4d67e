#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs DuckDB oracle SQL against the same parquet tables and compares with
the parquet outputs that graft.Verify wrote. An entry whose run recorded
an error in manifest.json fails, with or without an oracle. Usage:

    python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json
import sys
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes for compare
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(out_dir, "manifest.json")) as f:
        errors = {n: m["error"] for n, m in json.load(f).items()
                  if m["error"] is not None}
    n_pass = n_fail = 0
    for name in sorted(errors):
        print(f"FAIL {name}: run error: {errors[name]}")
        n_fail += 1
    for name in sorted(set(oracles) - set(errors)):
        sql = oracles[name]
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            spark_df = norm(pd.concat([pd.read_parquet(f) for f in files]))
            duck_df = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: columns {list(spark_df.columns)} "
                  f"vs {list(duck_df.columns)}")
            n_fail += 1
        elif len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(duck_df)}")
            n_fail += 1
        else:
            ok = True
            for c in spark_df.columns:
                a, b = spark_df[c], duck_df[c]
                if pd.api.types.is_float_dtype(a) or \
                        pd.api.types.is_float_dtype(b):
                    import numpy as np
                    aa = a.astype(float).to_numpy()
                    bb = b.astype(float).to_numpy()
                    if not np.allclose(aa, bb, rtol=1e-9, atol=1e-9,
                                       equal_nan=True):
                        bad = (~pd.Series(
                            abs(aa - bb) <= 1e-9 + 1e-9 * abs(bb))).idxmax()
                        print(f"FAIL {name}: col {c} row {bad}: "
                              f"{aa[bad]} vs {bb[bad]}")
                        ok = False
                        break
                else:
                    if not a.astype(str).equals(b.astype(str)):
                        diff = a.astype(str) != b.astype(str)
                        i = diff.idxmax()
                        print(f"FAIL {name}: col {c} row {i}: "
                              f"{a[i]!r} vs {b[i]!r}")
                        ok = False
                        break
            if ok:
                print(f"PASS {name} ({len(spark_df)} rows)")
                n_pass += 1
            else:
                n_fail += 1
    queries_no_oracle = [
        os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "*"))
        if os.path.isdir(p) and os.path.basename(p) not in oracles
        and os.path.basename(p) not in errors]
    for name in sorted(queries_no_oracle):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        rows = sum(len(pd.read_parquet(f)) for f in files) if files else 0
        print(f"ROWS-ONLY {name}: {rows} rows")
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
