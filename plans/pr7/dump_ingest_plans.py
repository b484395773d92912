"""Dump every SQL execution's final physical plan for the lakehouse ingest
verbs on the perfbench x10 ingest corpus (seed-7 cycle 0): CoW merge,
append, MoR delete, optimize_compact, and a HEAD read after each. Each
``<out dir>/<op>.txt`` starts with the op's Spark job count; run paths,
staging uuids, part-file ids and corpus cache signatures are replaced by
placeholders, so two checkouts' dumps differ only where their plans do.

Usage: python plans/pr7/dump_ingest_plans.py <checkout root> <out dir>
(run it once per checkout, e.g. the parent commit and the change).
"""
import os
import re
import shutil
import sys
import tempfile

root, out = os.path.abspath(sys.argv[1]), sys.argv[2]
sys.path.insert(0, root)
sys.path.insert(0, os.path.join(root, "perfbench"))
import corpus  # noqa: E402
import workloads as wl  # noqa: E402

sf_dir = corpus.scaled(0.1, wl.INGEST_FACTOR)
cycles = wl.ingest_cycles(24)
changes = corpus.changesets(sf_dir, 7, cycles, wl.UPSERT_FRAC, wl.DELETE_FRAC,
                            wl.APPEND_FRAC, wl.APPENDS)
run_dir = tempfile.mkdtemp(prefix="ingest_plans_")
session = wl.Session(run_dir)
spark = session.spark
from pyspark.sql import functions as F  # noqa: E402

from cuny_courses_spark.operators import lakehouse as lh  # noqa: E402

assert os.path.dirname(lh.__file__).startswith(root), lh.__file__
table = os.path.join(run_dir, "lake", "orders")
key = wl.INGEST_KEY
lh.snapshot_write(spark.read.parquet(os.path.join(sf_dir, "orders.parquet")),
                  table, key, version=1)
sql = spark._jsparkSession.sharedState().statusStore()
bus = spark.sparkContext._jsc.sc().listenerBus()
tracker = spark.sparkContext.statusTracker()
nxt = [0]


def skip():
    bus.waitUntilEmpty()
    while sql.execution(nxt[0]).isDefined():
        nxt[0] += 1


def norm(text):
    text = text.replace(run_dir, "<run>")
    text = re.sub(r"file:\S*/perfbench/\.cache/([a-z0-9.-]+?)-[0-9a-f]{12}",
                  r"<cache>/\1", text)
    text = re.sub(r"v(\d+)_[0-9a-f]{8}", r"v\1_<uuid>", text)
    text = re.sub(r"part-\d{5}-[0-9a-f-]{36}", "part-<id>", text)
    return text


def head():
    df = lh.snapshot_read(spark, table).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    t = df.toArrow()
    return int(t.column("n")[0].as_py()), int(t.column("cents")[0].as_py())


os.makedirs(out, exist_ok=True)


def dump(name, fn):
    skip()
    first = nxt[0]
    group = "pd_" + name
    spark.sparkContext.setJobGroup(group, group)
    res = fn()
    bus.waitUntilEmpty()
    jobs = len(tracker.getJobIdsForGroup(group))
    skip()
    plans = []
    for i in range(first, nxt[0]):
        ex = sql.execution(i).get()
        plans.append(norm(ex.physicalPlanDescription()))
    with open(os.path.join(out, name + ".txt"), "w") as f:
        f.write(f"# {name} on the x10 ingest corpus (seed 7, cycle 0): "
                f"{jobs} Spark jobs, {len(plans)} SQL executions\n")
        for i, p in enumerate(plans, 1):
            f.write(f"\n== SQL execution {i} of {len(plans)} ==\n{p}\n")
    print(name, "jobs", jobs, "execs", len(plans), "result", res, flush=True)
    return res


def rows(stem):
    return spark.read.parquet(os.path.join(changes, f"c0_{stem}.parquet"))


head()
dump("merge", lambda: lh.merge_upsert(
    spark, table, lh.latest_version(table), rows("merge"), key) and None)
dump("head_read_after_merge", head)
dump("append", lambda: lh.append_snapshot(
    table, lh.latest_version(table), rows("append0"), key))
dump("head_read_after_append", head)
dump("delete", lambda: lh.delete_merge_on_read(
    spark, table, lh.latest_version(table), rows("delete"), key))
dump("head_read_after_delete", head)
dump("optimize_compact", lambda: lh.optimize_compact(
    spark, table, lh.latest_version(table), key) and None)
dump("head_read_after_optimize", head)
spark.stop()
shutil.rmtree(run_dir, ignore_errors=True)
