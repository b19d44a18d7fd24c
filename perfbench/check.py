"""Output checks, run outside the timed region.

Batch queries are compared with their registry DuckDB oracle over the same
generated parquet by the repository's own oracle comparison: same columns,
same row count, same numeric class per column, and equal values after an
order-insensitive sort (the registry rounds computed doubles to 6 places on
both sides, so no tolerance is applied). Later passes are compared with the
first pass by a content digest.
"""
from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd

from tests.oracle import compare, duck_run


def oracle_mismatches(got: pd.DataFrame, sf_dir: str, sql: str) -> list[str]:
    """Mismatches between an already-collected result and its DuckDB oracle
    over ``sf_dir``, by the repository's own comparison (``tests/oracle.py``,
    the local mirror of the registry's oracle check); empty when equal."""
    return compare(SimpleNamespace(toPandas=lambda: got), duck_run(sf_dir, sql))


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(repr)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df: pd.DataFrame) -> int:
    """Order-insensitive content digest of a result frame."""
    norm = _normalize(df)
    return int(pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64).sum())


def compare_stream(got: pd.DataFrame, want: pd.DataFrame, key: list[str]) -> list[str]:
    """Streamed one-step-ahead rows against the batch kernel on the
    concatenated feed: same rows per key and time, predictions and scores
    equal to 1e-12 relative, labels equal."""
    if len(got) != len(want):
        return [f"row count differs: got={len(got)} want={len(want)}"]
    g = got.sort_values(key, ignore_index=True)
    w = want.sort_values(key, ignore_index=True)
    errs = []
    for c in key:
        if not g[c].equals(w[c]):
            errs.append(f"key column {c} differs")
    if errs:
        return errs
    for c in ("predicted", "osa_score"):
        x, y = g[c].to_numpy(float), w[c].to_numpy(float)
        both = np.isnan(x) & np.isnan(y)
        close = np.isclose(x, y, rtol=1e-12, atol=0.0) | both
        if not close.all():
            errs.append(f"col {c}: {int((~close).sum())} mismatches")
    if not (g["label"].astype(str) == w["label"].astype(str)).all():
        errs.append("col label differs")
    return errs
