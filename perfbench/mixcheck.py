"""Oracle check for the mix: each query's rows against its DuckDB
``oracle_sql()`` entry over the same generated tables, with the repo
gate's semantics -- order-insensitive, same column names, exact match for
non-float columns and a tight relative tolerance for floats."""

from __future__ import annotations

import os

import duckdb
import pandas as pd

REL_TOL = 1e-9


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    order = out.astype(str).sort_values(by=list(out.columns)).index
    return out.loc[order].reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why two frames differ under the gate's rules, or None."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for col in a.columns:
        av, bv = a[col], b[col]
        a_float = pd.api.types.is_float_dtype(av)
        if a_float != pd.api.types.is_float_dtype(bv):
            return f"column {col}: dtype {av.dtype} vs {bv.dtype}"
        if a_float:
            try:
                pd.testing.assert_series_equal(av.astype(float), bv.astype(float),
                                               check_names=False, rtol=REL_TOL, atol=1e-12)
            except AssertionError:
                return f"column {col}: float values differ"
        elif av.astype(str).tolist() != bv.astype(str).tolist():
            return f"column {col}: values differ"
    return None


def check(sf_dir: str, rows: dict, oracles: dict, errors: dict):
    """(attempted, failures) over every mix query, a failure naming the
    query; a query that raised or has no oracle counts as failed."""
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        path = os.path.join(sf_dir, f)
        files = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{files}')")
    failures = []
    for name, sql in oracles.items():
        if name in errors:
            failures.append(f"query {name}: {errors[name]}")
        elif sql is None:
            failures.append(f"query {name}: no oracle")
        else:
            why = mismatch(rows[name], con.execute(sql).fetchdf())
            if why:
                failures.append(f"query {name}: {why}")
    return len(oracles), failures
