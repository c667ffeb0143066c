"""Compare checked outputs with their DuckDB references.

Each query's reference is its ``SparkEntry.oracleSql`` text run by DuckDB
over the same input parquet files. Both sides go through
``tools/check.py``'s ``normalize`` (columns sorted by name, rows sorted),
and cells compare as that script compares them: exactly, with an integer
column never equal to a float one.
"""
import json
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

# the repository's own oracle check owns the normalisation rule
TOOLS = Path(__file__).resolve().parent.parent / "tools"
if not (TOOLS / "check.py").is_file():
    raise SystemExit("perfbench: tools/check.py not found; run from a graft checkout")
sys.path.insert(0, str(TOOLS))
from check import normalize  # noqa: E402

TABLES = ["events", "documents", "embeddings"]


def mismatch(exp, got):
    """None if the frames agree, else a one-line reason."""
    if list(exp.columns) != list(got.columns):
        return f"columns expected {list(exp.columns)} got {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows expected {len(exp)} got {len(got)}"
    bad = []
    for c in exp.columns:
        e, g = exp[c], got[c]
        kinds = {e.dtype.kind, g.dtype.kind}
        if kinds in ({"f", "i"}, {"f", "u"}):
            bad.append(f"{c}: dtype expected {e.dtype} got {g.dtype}")
        elif "f" in kinds:
            e, g = e.astype(float), g.astype(float)
            if (e.isna() != g.isna()).any():
                bad.append(f"{c}: null mask differs")
                continue
            both = ~(e.isna() | g.isna())
            diff = (e[both] - g[both]).abs()
            if len(diff) and diff.max() > 0:
                bad.append(f"{c}: max abs diff {diff.max():.3e} in {(diff > 0).sum()} cells")
        elif not e.equals(g):
            bad.append(f"{c}: {(e.astype(str) != g.astype(str)).sum()} cells differ")
    return "; ".join(bad) or None


def references(inputs, sql_path, threads):
    """{query: normalized reference frame, or the error computing it}."""
    oracle = json.load(open(sql_path))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET enable_progress_bar=false")
    con.execute(f"SET threads={threads}")
    for t in TABLES:
        path = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    refs = {}
    for name in sorted(oracle):
        try:
            refs[name] = normalize(con.sql(oracle[name]).df())
        except Exception as e:  # a reference that cannot be computed fails its query
            refs[name] = f"reference failed: {type(e).__name__}: {e}"
    return refs


def check(refs, outputs):
    """[(query, reason)] for every query whose output differs."""
    failures = []
    for name, exp in refs.items():
        if isinstance(exp, str):
            failures.append((name, exp))
            continue
        try:
            why = mismatch(exp, normalize(pd.read_parquet(os.path.join(outputs, name))))
        except Exception as e:  # an output that cannot be read is a failure
            why = f"{type(e).__name__}: {e}"
        if why:
            failures.append((name, why))
    return failures
