"""Local differential harness -- mimics the driver's correctness gate.

For every catalog query: run the Spark builder and the DuckDB oracle at the
given sf_dir and compare them with plans/differential.compare (row count,
column names in order, dtypes, order-insensitive exact values). Tier-1
runs the same compare at sf0.001; this tool is the sf0.01 run and the
hostile sweeps (TZ, SPARK_GRAFT_SESSION_TZ, SPARK_GRAFT_CPUS).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_training_exercises_spark.plans.catalog import (  # noqa: E402
    CATALOG,
    entry_query,
    release_query_state,
)
from flink_training_exercises_spark.plans.differential import compare, duck_con  # noqa: E402
from flink_training_exercises_spark.session import get_spark  # noqa: E402


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
        release_query_state(spark)
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
