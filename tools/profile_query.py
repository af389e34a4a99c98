"""Per-query profiling harness for the optimization rounds.

Times individual catalog queries with the same warm-up and timed run as
bench.py (catalog.warm_up, then catalog.timed_run per rep: noop sink,
catalog.release_query_state between reps, which returns cached and
checkpointed memory; no operator memoizes across reps) and can dump
`.explain("formatted")` plans (explain_audit.plan_text) for before/after
evidence.

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
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from explain_audit import plan_text  # noqa: E402  (this script's own dir)
from flink_training_exercises_spark.plans.catalog import (  # noqa: E402
    CATALOG,
    release_query_state,
    timed_run,
    warm_up,
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
            path = os.path.join(args.plan, f"{name}.txt")
            with open(path, "w") as f:
                f.write(plan_text(df))
            print(f"wrote {path}")
            df = None
            release_query_state(spark)
        return

    warm_up(spark, args.sf)  # so rep 1 isn't billed the cold start
    for name in args.queries:
        walls = [round(timed_run(spark, name, args.sf), 3) for _ in range(args.reps)]
        print(f"{name}: reps={walls} median={statistics.median(walls)}")


if __name__ == "__main__":
    main()
