"""Per-query profiling harness for the optimization rounds.

Times individual catalog queries through the same methodology as bench.py
(noop sink, catalog.release_query_state between reps, which returns
cached and checkpointed memory; no operator memoizes across reps) and can
dump `.explain("formatted")` plans for the before/after evidence the
optimization judge checks.

Usage:
    python tools/profile_query.py [--sf DIR] [--reps N] [--plan OUTDIR] \
        [--conf k=v ...] query [query ...]

Each rep's wall is printed; the per-query median is the number to compare
(the box's documented 30-50% wall noise makes single reps meaningless).
--plan writes `<OUTDIR>/<query>.txt` with the formatted plan (no timing).
--conf adds session confs on top of get_spark's defaults (for config A/B
experiments; the session is fresh per invocation, not per conf).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_training_exercises_spark.plans.catalog import (  # noqa: E402
    CATALOG,
    release_query_state,
)
from flink_training_exercises_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan", default=None, help="dump formatted plans into this dir instead of timing")
    ap.add_argument("--conf", action="append", default=[], help="extra spark conf k=v")
    args = ap.parse_args()

    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark("profile_query", extra_conf=extra)

    if args.plan:
        os.makedirs(args.plan, exist_ok=True)
        for name in args.queries:
            df = CATALOG[name].spark(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.plan, f"{name}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
            df = None
            release_query_state(spark)
        return

    # same untimed warmup as bench.py so rep 1 isn't billed the cold-start
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).groupBy(
        "l_returnflag"
    ).count().collect()
    spark.range(8).mapInPandas(lambda it: it, "id long").collect()

    for name in args.queries:
        walls = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            df = CATALOG[name].spark(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            df = None
            release_query_state(spark)
        print(f"{name}: reps={walls} median={statistics.median(walls)}")


if __name__ == "__main__":
    main()
