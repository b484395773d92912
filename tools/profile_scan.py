"""Component profile for the two flat ×100 sweep queries (r5 verdict #1/#2).

Splits each query's wall time into scan-decode vs aggregation vs
expression cost by timing successively richer plans over the SAME data:

  q_stream_tumbling (events, 10 M rows at ×100):
    ev_scan      - select(ts, event_type, value) -> noop sink (pure decode)
    ev_grp_trunc - groupBy(date_trunc(hour), event_type).count
    ev_grp_arith - groupBy(unix_micros arithmetic hour, event_type).count
    ev_full      - registered query (date_trunc key + decimal dsum)
    ev_fp        - date_trunc key + fixed-point 1e6 split-long sum
    ev_arith_fp  - arithmetic hour key + fixed-point sum

  q_agg_groupby (lineitem, 60 M rows at ×100):
    li_scan      - select(7 contract cols) -> noop sink
    li_grp_cnt   - filter + groupBy(flag,status).count
    li_full      - registered query (fp() uses F.round: BigDecimal/row)
    li_fastround - same aggs with arithmetic nearest-int (no BigDecimal)

Usage: python tools/profile_scan.py [factor]   (default 100)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from amplify import prepare_layout, scaled_layout  # noqa: E402
from cuny_courses_spark.common import fpavg, fpsum  # noqa: E402
from cuny_courses_spark.registry import queries  # noqa: E402
from cuny_courses_spark.session import get_session  # noqa: E402
from cuny_courses_spark.sources.loaders import load  # noqa: E402

HOUR_US = 3_600_000_000


def fastfp(col, digits=2):
    """Arithmetic nearest-int fixed point: no per-row BigDecimal."""
    c = F.col(col) if isinstance(col, str) else col
    x = c * (10 ** digits)
    return F.when(x >= 0, x + 0.5).otherwise(x - 0.5).cast("long")


def lap(spark, name, build, laps=3):
    build().toPandas()  # warm
    best = float("inf")
    for _ in range(laps):
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        t0 = time.perf_counter()
        build().toPandas()
        best = min(best, time.perf_counter() - t0)
    print(f"{name:14s} {best:8.3f} s")
    return best


def noop_lap(spark, name, build, laps=3):
    build().write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(laps):
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    print(f"{name:14s} {best:8.3f} s  (noop sink)")
    return best


def main():
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    base = prepare_layout("/root/testdata/sf0.1")
    d = scaled_layout(base, factor=factor) if factor > 1 else base
    print(f"data dir: {d}")
    spark = get_session("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    ev = lambda: load(spark, d, "events")  # noqa: E731
    noop_lap(spark, "ev_scan", lambda: ev().select("ts", "event_type", "value"))
    lap(spark, "ev_grp_trunc", lambda: ev().groupBy(
        F.date_trunc("hour", "ts").alias("_h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n")))
    lap(spark, "ev_grp_arith", lambda: ev().groupBy(
        (F.unix_micros("ts") - F.unix_micros("ts") % HOUR_US).alias("_h"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n")))
    lap(spark, "ev_full", lambda: qs["q_stream_tumbling"](spark, d))
    lap(spark, "ev_fp", lambda: ev().groupBy(
        F.date_trunc("hour", "ts").alias("_h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"),
          fpsum(fastfp("value", 6), 6, "sum_value")).select(
        F.date_format("_h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n", "sum_value"))
    lap(spark, "ev_arith_fp", lambda: ev().groupBy(
        (F.unix_micros("ts") - F.unix_micros("ts") % HOUR_US).alias("_h"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"),
          fpsum(fastfp("value", 6), 6, "sum_value")).select(
        F.date_format(
            F.timestamp_micros("_h"), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        "event_type", "n", "sum_value"))

    li = lambda: load(spark, d, "lineitem")  # noqa: E731
    CUT = F.lit("1998-09-02 00:00:00").cast("timestamp")
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate"]
    noop_lap(spark, "li_scan", lambda: li().select(*cols))
    lap(spark, "li_grp_cnt", lambda: li().filter(F.col("l_shipdate") <= CUT)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("count_order")))
    lap(spark, "li_full", lambda: qs["q_agg_groupby"](spark, d))

    def fast_q1():
        ep, disc, tax, qty = (fastfp("l_extendedprice"), fastfp("l_discount"),
                              fastfp("l_tax"), fastfp("l_quantity"))
        return (
            li().filter(F.col("l_shipdate") <= CUT)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                fpsum(qty, 2, "sum_qty"),
                fpsum(ep, 2, "sum_base_price"),
                fpsum(ep * (100 - disc), 4, "sum_disc_price"),
                fpsum(ep * (100 - disc) * (100 + tax), 6, "sum_charge"),
                fpavg(qty, 2, "l_quantity", "avg_qty"),
                fpavg(ep, 2, "l_extendedprice", "avg_price"),
                fpavg(disc, 2, "l_discount", "avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    lap(spark, "li_fastround", fast_q1)


if __name__ == "__main__":
    main()
