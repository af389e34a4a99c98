"""The one definition of "equal" between a catalog query and its DuckDB
oracle.

``compare`` is used by the tier-1 catalog test (sf0.001), by
``tools/check_oracle.py`` (sf0.01 and the hostile time-zone and
partition-count sweeps) and by perfbench's warm-pass check. Equal means:
  * the same row count;
  * the same column names in the same order;
  * the same pandas dtype per column -- an int on one side and a float on
    the other would hash differently even when 1 == 1.0, and so would an
    int32 against an int64. The one tolerated difference is the unit of a
    datetime64 column (Spark hands pandas ns, DuckDB us), which is what
    ``canary_timestamp_schema`` probes;
  * the same multiset of rows, order-insensitive, exact: floats bit-equal
    (NaN equals NaN; mismatches report the max abs diff so determinism
    bugs are visible), everything else equal as strings.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from ..schemas import TESTDATA_TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per test-data table in sf_dir."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Rows sorted by every column, object columns as strings."""
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _same_dtype(s, o) -> bool:
    if s == o:
        return True
    # datetime64 unit only: both plain numpy datetimes (no tz on either)
    return isinstance(s, np.dtype) and isinstance(o, np.dtype) and s.kind == o.kind == "M"


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Every way the Spark result ``sdf`` differs from the oracle result
    ``odf``; empty when they are equal. ``name`` is the query's catalog
    name (callers print it; the problems do not repeat it)."""
    problems: list[str] = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if list(sdf.columns) != list(odf.columns):
        problems.append(f"columns spark={list(sdf.columns)} oracle={list(odf.columns)}")
        return problems
    for c in sdf.columns:
        if not _same_dtype(sdf[c].dtype, odf[c].dtype):
            problems.append(
                f"col {c}: dtype spark={sdf[c].dtype} oracle={odf[c].dtype} "
                "(cast the oracle column explicitly)"
            )
    if problems:
        return problems
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if np.issubdtype(sv.dtype, np.floating):
            sv64 = sv.astype(np.float64)
            ov64 = ov.astype(np.float64)
            both_nan = np.isnan(sv64) & np.isnan(ov64)
            exact = np.where(both_nan, True, sv64 == ov64)
            if not exact.all():
                bad = ~exact
                problems.append(
                    f"col {c}: {bad.sum()}/{len(sv)} float mismatches, "
                    f"max|diff|={np.nanmax(np.abs(sv64 - ov64)):.3e}"
                )
        else:
            eq = (pd.Series(sv).astype(str) == pd.Series(ov).astype(str)).to_numpy()
            if not eq.all():
                i = int(np.argmax(~eq))
                problems.append(
                    f"col {c}: {(~eq).sum()}/{len(sv)} mismatches, first at row {i}: "
                    f"spark={sv[i]!r} oracle={ov[i]!r}"
                )
    return problems
