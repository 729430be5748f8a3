"""DuckDB re-derivation of the benchmark's oracle-bearing query results.

Each query's Spark result (one parquet directory per query) is compared
with DuckDB running the query's `oracleSql` over the same table parquet,
under the compare rules of the repository's `tools/check.py`: same column
set, same row count, rows compared in order after sorting the columns by
name, non-float values exactly, float values exactly or within 1e-9
relative, nulls in the same places, and no empty result.
"""
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.sql("SET threads=2")
    con.sql(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def col_diffs(a, b):
    """Count of values of two aligned columns that differ beyond the
    compare rules (a null against a non-null always differs)."""
    an = pd.isna(a).to_numpy()
    bn = pd.isna(b).to_numpy()
    bad = int((an != bn).sum())
    valid = ~an & ~bn
    if a.dtype.kind == "f" or b.dtype.kind == "f":
        x = a.to_numpy(dtype="float64", na_value=np.nan)[valid]
        y = b.to_numpy(dtype="float64", na_value=np.nan)[valid]
        bad += int((~np.isclose(x, y, rtol=1e-9, atol=1e-12)).sum())
    else:
        bad += int((a[valid].astype(str).to_numpy()
                    != b[valid].astype(str).to_numpy()).sum())
    return bad


def compare(mine, ora):
    """None when the frames agree, else the first reason they do not."""
    if sorted(mine.columns) != sorted(ora.columns):
        return f"columns {sorted(mine.columns)} vs oracle {sorted(ora.columns)}"
    if len(mine) != len(ora):
        return f"{len(mine)} rows vs oracle {len(ora)}"
    if len(mine) == 0:
        return "empty result"
    cols = sorted(mine.columns)
    mine = mine[cols].reset_index(drop=True)
    ora = ora[cols].reset_index(drop=True)
    for c in cols:
        n = col_diffs(mine[c], ora[c])
        if n:
            return f"column {c}: {n} values differ"
    return None


def check(con, results_dir, queries, sql):
    """[(query, error or None)] for each named query."""
    out = []
    for q in queries:
        path = os.path.join(results_dir, q)
        try:
            mine = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
            ora = con.sql(sql[q]).df()
            out.append((q, compare(mine, ora)))
        except Exception as e:  # a query that cannot be compared fails
            out.append((q, f"{type(e).__name__}: {str(e)[:200]}"))
    return out


def summary_lines(con, sql):
    """The body lines of the summary report, from the oracle of the
    query that the report renders."""
    df = con.sql(sql).df()
    return [str(x) for x in df.sort_values("zone_id")["line"]]
