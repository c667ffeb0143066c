#!/usr/bin/env python3
"""Local oracle pre-check: compare Verify parquet output against DuckDB.

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]

Mimics the driver's t2 gate: for each query in oracle_sql.json, run the
SQL in DuckDB over the raw parquet tables, sort columns by name, sort
rows, and compare cell-by-cell. Reports per-column max abs diff for
floats so rounding-boundary risks are visible before the driver runs.
"""
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            s = pd.to_datetime(df[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif df[c].dtype == object:
            import datetime
            first = df[c].dropna().iloc[0] if df[c].notna().any() else None
            if isinstance(first, datetime.date) and not isinstance(first, datetime.datetime):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    sort_cols = list(df.columns)
    df = df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    return df


def default_memory_limit():
    """Half of the machine's physical memory (Linux MemTotal), in whole
    GB: room for the Spark JVM and the page cache beside DuckDB."""
    import os
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2 ** 31)}GB"


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # Bound DuckDB so a heavy oracle at sf1/sf10 spills to disk instead
    # of being OOM-killed (a killed process silently loses every
    # remaining query in the invocation). Override via GRAFT_DUCKDB_MEM.
    import os as _os
    con.execute(f"SET memory_limit='{_os.environ.get('GRAFT_DUCKDB_MEM', default_memory_limit())}'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    import os
    for t in TABLES:
        # driver-generated tables are single files; DataGen-scaled ones
        # are Spark directory-style parquet — glob those for DuckDB
        path = f"{sfdir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        try:
            exp = normalize(con.sql(oracle[name]).df())
            got = normalize(pd.read_parquet(f"{outdir}/{name}"))
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
            n_fail += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            n_fail += 1
            continue
        bad = []
        for c in exp.columns:
            e, g = exp[c], got[c]
            # The driver's hash gate compares TYPED values: an oracle
            # column that comes back float64 (e.g. DuckDB sum(BIGINT) →
            # HUGEINT → pandas float) hash-mismatches a Spark BIGINT even
            # when every cell is numerically equal. Enforce int/float
            # parity here so that class of defect fails pre-driver.
            kinds = {e.dtype.kind, g.dtype.kind}
            if kinds == {"f", "i"} or kinds == {"f", "u"}:
                bad.append(f"{c}: dtype mismatch exp={e.dtype} got={g.dtype} "
                           "(int vs float — driver hash gate would reject; "
                           "cast the DuckDB aggregate ::BIGINT)")
                continue
            if e.dtype.kind == "f" or g.dtype.kind == "f":
                e = e.astype(float)
                g = g.astype(float)
                both = ~(e.isna() | g.isna())
                if (e.isna() != g.isna()).any():
                    bad.append(f"{c}: null-mask mismatch")
                    continue
                diff = (e[both] - g[both]).abs()
                if len(diff) and diff.max() > 0:
                    bad.append(f"{c}: max_abs_diff={diff.max():.3e} "
                               f"n_diff={(diff > 0).sum()}")
            else:
                if not e.equals(g):
                    neq = (e.astype(str) != g.astype(str)).sum()
                    bad.append(f"{c}: {neq} cells differ "
                               f"(e.g. exp={e[e.astype(str) != g.astype(str)].head(2).tolist()} "
                               f"got={g[e.astype(str) != g.astype(str)].head(2).tolist()})")
        if bad:
            print(f"FAIL {name} ({len(exp)} rows): " + "; ".join(bad))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
