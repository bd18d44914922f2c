#!/usr/bin/env python3
"""Dev-only harness simulating the driver's correctness gate.

NOT part of the shipped library (the Scala/Spark code has no Python
dependency) — this mirrors what the driver does per round: run
graft.Verify at a given SF, then execute each oracle SQL in DuckDB over the
same parquet tables and compare (columns sorted by name, rows sorted,
values hashed). Usage:

    python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_out [query ...]
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem",
          "events"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize types for compare (driver hashes values, not dtypes)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype('datetime64[us]')
        else:
            df[c] = df[c].where(df[c].notna(), "NULL").astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = sorted(only - oracle.keys())
    if unknown:
        # a misspelled name would otherwise drop its query from the gate
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    ok, bad = [], []
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            spark_df = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            bad.append((name, f"spark result unreadable: {e}"))
            continue
        try:
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:
            bad.append((name, f"duckdb failed: {e}"))
            continue
        s, d = normalize(spark_df), normalize(duck_df)
        if list(s.columns) != list(d.columns):
            bad.append((name, f"columns differ: spark={list(s.columns)} duck={list(d.columns)}"))
            continue
        if len(s) != len(d):
            bad.append((name, f"row counts differ: spark={len(s)} duck={len(d)}"))
            continue
        eq = s.equals(d)
        if not eq:
            # find first differing cell for debugging
            diff_mask = (s != d) & ~(s.isna() & d.isna())
            cells = diff_mask.to_numpy().nonzero()
            if len(cells[0]) == 0:
                bad.append((name, f"equals=False but no cell diff "
                                  f"(dtypes spark={dict(s.dtypes.astype(str))} "
                                  f"duck={dict(d.dtypes.astype(str))})"))
                continue
            i, j = cells[0][0], cells[1][0]
            col = s.columns[j]
            bad.append((name, f"value mismatch at row {i} col {col}: "
                              f"spark={s.iloc[i, j]!r} duck={d.iloc[i, j]!r}"))
            continue
        ok.append((name, len(s)))
    for name, n in ok:
        print(f"PASS {name} ({n} rows)")
    for name, msg in bad:
        print(f"FAIL {name}: {msg}")
    print(f"\n{len(ok)} passed, {len(bad)} failed")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
