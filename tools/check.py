"""Local mirror of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB over the same
parquet tables; reports PASS (bit-exact — what the driver's value-hash
needs), CLOSE (≤1e-9 but hash would FAIL), ROWS (no oracle), or FAIL.

Usage: python tools/check.py [--sf /root/testdata/sf0.01] [name ...]

``--amplify N`` first builds ``amplify.scaled_layout``'s N× key-shifted
copy of --sf (the same corpus ``bench.py`` times) and checks against it;
the default names are then ``amplify.SWEEP``, whose oracles stay
tractable at GB scale. Amplified inputs switch on the large profile
(AQE, shuffle-hash star, split accumulator) and, from 1 M source rows,
the bucketed mirrors, so this checks bit-exactness on plans the driver's
small SFs never reach. Avoid quadratic-oracle queries with --amplify.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cuny_courses_spark.oracle import compare, duck_con  # noqa: E402
from cuny_courses_spark.registry import oracles, queries  # noqa: E402
from cuny_courses_spark.session import get_session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--amplify", type=int, default=0, metavar="N")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.amplify:
        from amplify import SWEEP, prepare_layout, scaled_layout

        base = prepare_layout(args.sf)
        args.sf = scaled_layout(base, factor=args.amplify)
        if args.sf == base:
            print("amplified layout synthesis failed", flush=True)
            return 1
        if not args.names:
            args.names = list(SWEEP)

    spark = get_session("check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(args.sf)
    qs, os_ = queries(), oracles()
    names = args.names or sorted(qs)
    n_pass = n_fail = 0
    for name in names:
        if name not in qs:
            print(f"{name:<28} SKIP  (not registered)", flush=True)
            continue
        t0 = time.time()
        try:
            sp = qs[name](spark, args.sf).toPandas()
        except Exception:
            print(f"{name:<28} FAIL  spark error:", flush=True)
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if name not in os_:
            print(
                f"{name:<28} ROWS  {len(sp)} rows  ({time.time()-t0:.2f}s)",
                flush=True,
            )
            n_pass += 1
            continue
        try:
            du = con.execute(os_[name]).df()
        except Exception as e:
            print(
                f"{name:<28} FAIL  duckdb error: {str(e).splitlines()[0]}",
                flush=True,
            )
            n_fail += 1
            continue
        status, msg = compare(sp, du)
        ok = status == "PASS"
        n_pass += ok
        n_fail += not ok
        print(f"{name:<28} {status:<5} {msg}  ({time.time()-t0:.2f}s)", flush=True)
    print(f"\n{n_pass} pass, {n_fail} fail/close of {len(names)}", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
