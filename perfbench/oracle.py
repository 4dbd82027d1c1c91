"""Output check: each query's result against its DuckDB oracle.

The engine's own oracle SQL (`SparkEntry.oracleSql`, plus
`dynamicOracleSql` where a query needs one) runs in DuckDB over the same
parquet tables; the engine's result must match it after sorting columns
by name and rows by every column, with floats equal to 1e-9 (relative
or absolute). This is the comparison `tools/check_oracle.py` makes.

The oracle's own result depends only on its SQL and the tables, so it
is computed once and kept as parquet in a cache directory named by the
caller after the tables' checksums; later checks compare against it.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def connect(fixture_dir, temp_dir=None):
    """DuckDB with a view per fixture table; spills go to `temp_dir`."""
    con = duckdb.connect(config={"temp_directory": temp_dir} if temp_dir else {})
    con.sql("SET enable_progress_bar = false")
    for p in sorted(glob.glob(os.path.join(fixture_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def _canonical(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def mismatch(got, expected):
    """Why two result frames differ, or None when they match."""
    if sorted(got.columns) != sorted(expected.columns):
        return f"columns {sorted(got.columns)} vs {sorted(expected.columns)}"
    if len(got) != len(expected):
        return f"rows {len(got)} vs {len(expected)}"
    got, expected = _canonical(got), _canonical(expected)
    for c in got.columns:
        g, e = got[c], expected[c]
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            ok = np.isclose(g.astype(float), e.astype(float),
                            rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            try:
                ok = ~((g != e) & ~(pd.isna(g) & pd.isna(e)))
            except (TypeError, ValueError):
                ok = pd.Series([str(a) == str(b) for a, b in zip(g, e)])
        bad = int((~np.asarray(ok, dtype=bool)).sum())
        if bad:
            return f"column {c}: {bad} values differ"
    return None


def expected(con, sql, cache_dir=None):
    """The oracle's result for `sql`, from `cache_dir` when it holds it."""
    if cache_dir is None:
        return con.sql(sql).df()
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        con.sql(f"COPY ({sql.strip().rstrip(';')}) TO '{tmp}' (FORMAT parquet)")
        os.replace(tmp, path)
    return con.sql(f"SELECT * FROM '{path}'").df()


def check(con, result_dir, oracle_sql, queries, engine_errors, cache_dir=None):
    """{query: failure message or None} for every query in `queries`.

    A query fails when the engine raised on it, wrote no result, has no
    oracle, or its result differs from the oracle's.
    """
    out = {}
    for q in queries:
        if q in engine_errors:
            out[q] = f"engine error: {engine_errors[q]}"
            continue
        if q not in oracle_sql:
            out[q] = "no oracle SQL"
            continue
        path = os.path.join(result_dir, q)
        if not glob.glob(os.path.join(path, "*.parquet")):
            out[q] = "no result written"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
            want = expected(con, oracle_sql[q], cache_dir)
        except duckdb.Error as e:
            out[q] = f"duckdb: {str(e).splitlines()[0]}"
            continue
        out[q] = mismatch(got, want)
    return out
