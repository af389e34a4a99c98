"""Local differential harness -- mimics the driver's correctness gate.

For every catalog query: run the Spark builder and the DuckDB oracle at the
given sf_dir, then compare row count, column names, and order-insensitive
values (exact match; float mismatches are reported with max abs diff so
determinism bugs are visible immediately).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import gc
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_training_exercises_spark.operators.dedup import release_persisted  # noqa: E402
from flink_training_exercises_spark.plans.catalog import CATALOG, entry_query  # noqa: E402
from flink_training_exercises_spark.schemas import TESTDATA_TABLES  # noqa: E402
from flink_training_exercises_spark.session import get_spark  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if problems:
        return problems
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        s_float = np.issubdtype(sv.dtype, np.floating)
        o_float = np.issubdtype(ov.dtype, np.floating)
        if s_float != o_float:
            # int-on-one-side / float-on-the-other: values may compare equal
            # here but the driver's hash could distinguish 1 from 1.0
            problems.append(
                f"col {c}: dtype skew spark={sv.dtype} oracle={ov.dtype} "
                "(cast the oracle column explicitly)"
            )
            continue
        if sv.dtype != ov.dtype:
            # WARNING only: the driver demonstrably TOLERATES width skew
            # (dedup_simhash int32/int8, text_token_count / text_lang_id /
            # pii_scrub_mails / length_bucket_batches int32/int64 all have
            # green r1-r3 driver rows, and canary_timestamp_schema probes
            # ns/us). Int-vs-FLOAT skew above stays a failure. Keep new
            # queries width-aligned anyway -- it costs one cast.
            print(
                f"      WARN {name} col {c}: dtype width skew "
                f"spark={sv.dtype} oracle={ov.dtype} (driver-tolerated)"
            )
        if s_float or o_float:
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


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # SPARK_GRAFT_SESSION_TZ overrides the session timezone -- the driver's
    # session is vanilla (session TZ = the box's JVM default), so the replica
    # must be runnable with a hostile session TZ, not just a hostile system
    # TZ (get_spark pins UTC by default, which would mask session-TZ bugs
    # like date_trunc bucketing).
    tz = os.environ.get("SPARK_GRAFT_SESSION_TZ")
    extra = {"spark.sql.session.timeZone": tz} if tz else None
    spark = get_spark("check_oracle", extra_conf=extra)
    con = duck_con(sf_dir)

    e = entry_query(spark, "/root/testdata/sf0.001")
    n = e.count()
    print(f"entry: {n} rows {'OK' if n > 0 else 'EMPTY -- FIX'}")

    failures = 0
    for name, spec in CATALOG.items():
        if only and name not in only:
            continue
        try:
            sdf = spec.spark(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(ex).__name__}: {str(ex)[:300]}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle -- rows-only check)")
            if len(sdf) == 0:
                print(f"      WARNING: {name} returned 0 rows")
            continue
        try:
            odf = con.execute(spec.oracle).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: oracle raised {type(ex).__name__}: {str(ex)[:300]}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"OK    {name}: {len(sdf)} rows match")
        # same hygiene as bench.py: drop per-query localCheckpoint refs
        # (CC/kcore/SSSP/BPE loops) so the ContextCleaner unpersists them
        # instead of letting executor pressure slow later queries
        sdf = odf = None
        release_persisted()
        spark.catalog.clearCache()
        gc.collect()
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
