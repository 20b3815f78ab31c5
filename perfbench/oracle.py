"""Result comparison against the DuckDB oracle, with the rules of
``scripts/oracle_sweep.py``: same sorted column names, same row count,
same dtype kind per column, then values of the name-sorted, row-sorted
frames — floats within rtol 1e-6 / atol 1e-9, everything else exact."""

from __future__ import annotations

import pandas as pd

from scripts.oracle_sweep import _kind


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` (Spark) matches ``want`` (DuckDB), else why not."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"schema {cols} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    frames = []
    for df in (got, want):
        df = df.copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
        frames.append(df[cols].sort_values(cols).reset_index(drop=True))
    s, o = frames
    for c in cols:
        if _kind(s[c]) != _kind(o[c]):
            return f"dtype kind of {c}: {_kind(s[c])} vs {_kind(o[c])}"
        is_float = _kind(s[c]) == "float"
        try:
            pd.testing.assert_series_equal(
                s[c], o[c], check_dtype=False, check_exact=not is_float,
                rtol=1e-6, atol=1e-9, check_names=False,
            )
        except AssertionError as ex:
            return f"values of {c}: {str(ex)[:200]}"
    return None
