"""Count the generated classes Spark compiles in each steady-state window of
the perfbench ``heavy_x7`` mix, and dump every query's final physical plan.

A fresh engine session (``perfbench/workloads.Session``: the engine's own
``get_session()``, 3 GB heap) on the perfbench x7 corpus runs the
workload's warm-up, then three windows of two rounds each (seeds 7, 8, 9,
every query once per round in a seeded order). For each window it prints
the classes compiled, read from Spark's ``CodegenMetrics`` compile
histogram, and the ops/s. A window that compiles nothing reuses every
class the warm-up generated; one that compiles classes pays Janino again
and runs those operators interpreted until the JIT warms them up again.

Afterwards each query runs once more, untimed, and every SQL execution of
that call is written to ``<out dir>/<query>.txt`` with run paths, corpus
cache signatures, mirror table signatures, expression ids and plan ids
replaced by placeholders, so two checkouts' dumps differ only where their
plans do. The printed lines are also written to ``<out dir>/windows.txt``.

Usage: python plans/pr9/codegen_per_window.py <checkout root> <out dir>
(run it once per checkout, e.g. the parent commit and the change).
"""
import os
import re
import shutil
import sys
import tempfile

root, out = os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2])
sys.path.insert(0, root)
sys.path.insert(0, os.path.join(root, "perfbench"))
import workloads as wl  # noqa: E402

ROUNDS, SEEDS = 2, (7, 8, 9)
sf_dir = wl.query_corpus(wl.HEAVY, 0.1)
run_dir = tempfile.mkdtemp(prefix="codegen_window_")
session = wl.Session(run_dir)
spark = session.spark
from cuny_courses_spark import registry  # noqa: E402

assert os.path.dirname(registry.__file__).startswith(root), registry.__file__
codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
os.makedirs(out, exist_ok=True)
lines = []


def say(text):
    print(text, flush=True)
    lines.append(text)


def compiled():
    return codegen.METRIC_COMPILATION_TIME().getCount()


say("spark.sql.codegen.cache.maxEntries = "
    + spark.conf.get("spark.sql.codegen.cache.maxEntries"))
run = wl.QueryRun(wl.HEAVY, session, sf_dir)
before = compiled()
run.warm_up()
say(f"warm-up: {compiled() - before} classes compiled")
for i, seed in enumerate(SEEDS, 1):
    before = compiled()
    loop = run.window(seed, ROUNDS, wl.Loop())
    ok = sum(o.ok for o in loop.ops)
    say(f"window {i} (seed {seed}, {ROUNDS} rounds): {compiled() - before} "
        f"classes compiled, {ok}/{len(loop.ops)} ops ok, "
        f"{ok / loop.wall:.3f} ops/s")
say(f"oracle mismatches: {len(run.check())}")

sql = spark._jsparkSession.sharedState().statusStore()
bus = spark.sparkContext._jsc.sc().listenerBus()
nxt = [0]


def skip():
    bus.waitUntilEmpty()
    while sql.execution(nxt[0]).isDefined():
        nxt[0] += 1


def norm(text):
    text = text.replace(run_dir, "<run>")
    text = re.sub(r"file:\S*/perfbench/\.cache/([a-z0-9.-]+?)-[0-9a-f]{12}",
                  r"<cache>/\1", text)
    text = re.sub(r"(ccs_bkt_\w+?_)[0-9a-f]{12}\b", r"\1<sig>", text)
    text = re.sub(r"#\d+", "#N", text)
    return re.sub(r"plan_id=\d+", "plan_id=N", text)


for name in wl.HEAVY.queries:
    skip()
    first = nxt[0]
    session.queries[name](spark, sf_dir).toArrow()
    skip()
    plans = [norm(sql.execution(i).get().physicalPlanDescription())
             for i in range(first, nxt[0])]
    with open(os.path.join(out, name + ".txt"), "w") as f:
        f.write(f"# {name} on the perfbench x7 corpus after the windows: "
                f"{len(plans)} SQL executions\n")
        for i, p in enumerate(plans, 1):
            f.write(f"\n== SQL execution {i} of {len(plans)} ==\n{p}\n")
with open(os.path.join(out, "windows.txt"), "w") as f:
    f.write("\n".join(lines) + "\n")
session.stop()
shutil.rmtree(run_dir, ignore_errors=True)
