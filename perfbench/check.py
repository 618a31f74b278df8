"""Output check for the tabular workload: each captured query result
against its DuckDB oracle (SparkEntry.oracleSql) on the generated tables.

Comparator rules are those of the repo's oracle differ (kept here so a
change to that dev script cannot change the benchmark): columns compared
by name, rows sorted by every column (float columns last), floats equal
to 1e-6 relative tolerance, NaN equals NaN, null equals null, list
cells compared element-wise, timestamps compared as pandas timestamps.
"""
import math
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events".split()


def _is_list(v) -> bool:
    return hasattr(v, "__len__") and not isinstance(v, str)


def _canon(df: pd.DataFrame, keys: list) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].map(_is_list).any():
            df[c] = df[c].map(lambda v: tuple(v) if _is_list(v) else v)
    return df.sort_values(by=keys, ignore_index=True)


def _close(a, b) -> bool:
    if a is None and b is None:
        return True
    if _is_list(a):
        return _is_list(b) and len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """Empty string when equal, else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"schema: got {sorted(got.columns)}, oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows: got {len(got)}, oracle {len(want)}"
    keys = sorted(got.columns, key=lambda c: (
        got[c].dtype.kind == "f" or want[c].dtype.kind == "f", c))
    a, b = _canon(got, keys), _canon(want, keys)
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if isinstance(x, pd.Timestamp) or isinstance(y, pd.Timestamp):
                if pd.Timestamp(x) != pd.Timestamp(y):
                    return f"col {col} row {i}: {x!r} != {y!r}"
            elif not _close(x, y):
                return f"col {col} row {i}: {x!r} != {y!r}"
    return ""


def oracle_check(capture: Path, tables: Path, oracles: dict, errors: dict) -> dict:
    """Returns {query: reason} for every query whose captured output is
    missing or differs from its oracle. Queries without an oracle are
    held to having produced output."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables / (t + '.parquet')}')")
    bad = dict(errors)
    for q in sorted(d.name for d in capture.iterdir() if d.is_dir()):
        if q in bad or q not in oracles:
            continue
        try:
            err = frames_match(pd.read_parquet(capture / q), con.execute(oracles[q]).df())
        except Exception as e:  # an oracle or read error is a failed check
            err = f"check error: {e}"
        if err:
            bad[q] = err
    return bad
