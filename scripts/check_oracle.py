#!/usr/bin/env python3
"""Self-check replica of the driver's DuckDB oracle compare.

Usage: check_oracle.py <verify_out_dir> <sf_dir>

Reads each <verify_out_dir>/<name>/ parquet (written by `graft.Verify`),
runs the matching oracle SQL from oracle_sql.json in DuckDB with the
testdata tables registered as views, and compares values exactly
(column-name-sorted, like the driver). Dev tool only — NOT part of the
shipped library.

An output directory without oracle SQL counts as a failure; the exit
status is 1 on any failure.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    s, o = canon(spark_df), canon(oracle_df)
    if list(s.columns) != list(o.columns):
        problems.append(f"columns differ: spark={list(s.columns)} oracle={list(o.columns)}")
        return problems
    if len(s) != len(o):
        problems.append(f"row count differs: spark={len(s)} oracle={len(o)}")
        return problems
    for c in s.columns:
        sv, ov = s[c], o[c]
        try:
            if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
                # Bit-level compare (not ==): the driver's hash distinguishes
                # -0.0 from 0.0 (and NaN payloads), so we must too.
                import numpy as np
                sn = sv.astype(float).to_numpy()
                on = ov.astype(float).to_numpy()
                neq = pd.Series(sn.view(np.int64) != on.view(np.int64))
            else:
                neq = ~((sv == ov) | (sv.isna() & ov.isna()))
        except Exception as exc:  # dtype mismatch etc
            problems.append(f"column {c}: compare error {exc}")
            continue
        if neq.any():
            idx = neq.idxmax()
            problems.append(
                f"column {c}: {int(neq.sum())}/{len(s)} mismatches; "
                f"first at row {idx}: spark={sv[idx]!r} oracle={ov[idx]!r}")
    return problems


def main() -> int:
    out_dir, sf_dir = Path(sys.argv[1]), Path(sys.argv[2])
    oracle_sql = json.loads((out_dir / "oracle_sql.json").read_text())

    con = duckdb.connect()
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_fail = n_missing = 0
    for d in sorted(out_dir.iterdir()):
        if not d.is_dir():
            continue
        name = d.name
        spark_df = pd.read_parquet(d)
        if name not in oracle_sql:
            # every registry query carries oracle SQL; a result without
            # one is unchecked, so it fails
            print(f"  FAIL       {name}: no oracle SQL ({len(spark_df)} rows)")
            n_fail += 1
            n_missing += 1
            continue
        try:
            oracle_df = con.execute(oracle_sql[name]).df()
        except Exception as exc:
            print(f"  FAIL       {name}: oracle SQL error: {exc}")
            n_fail += 1
            continue
        problems = compare(name, spark_df, oracle_df)
        if problems:
            print(f"  FAIL       {name}:")
            for p in problems:
                print(f"             - {p}")
            n_fail += 1
        else:
            print(f"  PASS       {name}: {len(spark_df)} rows")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail ({n_missing} without oracle SQL)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
