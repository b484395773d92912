"""Round-15 optimization harness: time registered queries in isolation
(noop sink — guide §1.4) at a chosen layout/amplification and dump
`.explain("formatted")` per query.

Usage:
  python tools/profile_queries.py [--sf DIR] [--amplify N] [--laps K]
         [--plans-dir plans/r15] [--suffix before] [--arrow] [name ...]

Timing: warm lap, then best-of-K laps of
`df.write.format("noop").mode("overwrite").save()` — computes every
column of every row, no sink cost, unlike toArrow() (the bench's timed
action) which also pays Arrow collection to the driver (recorded
separately when --arrow is passed so the bench numbers stay comparable).
Job-labelled per guide §1.5.

`compiled=N` is the number of generated classes Spark compiled during
the timed laps. Nonzero means the laps paid Janino compilation and ran
the new classes interpreted until the JIT warmed them up again (the
codegen cache evicted this query's classes, or its code changes per call).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cuny_courses_spark.registry import queries  # noqa: E402
from cuny_courses_spark.session import compiled_classes, get_session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--amplify", type=int, default=0)
    ap.add_argument("--laps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--arrow", action="store_true",
                    help="also time toArrow() (the bench's action)")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = args.sf
    if args.amplify:
        from amplify import prepare_layout, scaled_layout

        sf_dir = scaled_layout(prepare_layout(args.sf), factor=args.amplify)

    spark = get_session("profile_queries")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    sc = spark.sparkContext
    for name in args.names:
        fn = qs[name]
        df = fn(spark, sf_dir)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = df._sc is not None and df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)
        sc.setJobDescription(f"{name} warm")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        compiled = compiled_classes(spark)
        for lap in range(args.laps):
            sc.setJobDescription(f"{name} lap{lap}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        compiled = compiled_classes(spark) - compiled
        extra = ""
        if args.arrow:
            fn(spark, sf_dir).toArrow()
            bp = float("inf")
            for _ in range(args.laps):
                t0 = time.perf_counter()
                fn(spark, sf_dir).toArrow()
                bp = min(bp, time.perf_counter() - t0)
            extra = f"  toArrow={bp:.4f}s"
        sc.setJobDescription(None)
        print(f"{name:40s} noop={best:.4f}s compiled={compiled}{extra}",
              flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
