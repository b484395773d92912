"""A/B of the lakehouse write verbs between checkouts of this repository.

Each checkout runs in its own process, with its own Spark session and its
own copy of ``cuny_courses_spark`` on ``sys.path``. Both sides write the
perfbench ``ingest_x10`` table (the ×10 orders corpus, 1.5 M rows at
sf0.1) and run the same seeded cycles of that workload: a CoW upsert, an
append, a MoR delete and an OPTIMIZE. Per verb the script reports the
cold (first cycle) and warm (later cycles) seconds, the Spark jobs and
tasks of each commit, and the bytes it wrote under the table directory.
After the last cycle the HEAD is compared with a DuckDB replay of the
committed changesets on every column (rows of the replay missing from
the HEAD plus rows of the HEAD missing from the replay, per column).

Usage, from the repository root (checkouts are directories holding a
``cuny_courses_spark`` package, e.g. a parent and a change exported
side by side):

    python plans/pr16/rewrite_ab.py <checkout> [<checkout> ...]
        [--cycles 4] [--seed 7] [--sf 0.1]

One JSON line per checkout, in the order given, then one summary line
per verb.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.join(HERE, "..", "..", "perfbench")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _parity(spark, lh, table: str, sf_dir: str, log: list, key: str) -> dict:
    """{column: rows that differ} between the HEAD and a DuckDB replay."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE t AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    for verb, path in log:
        if verb in ("merge", "delete"):
            con.execute(f"DELETE FROM t WHERE {key} IN "
                        f"(SELECT {key} FROM read_parquet('{path}'))")
        if verb in ("merge", "append"):
            con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{path}')")
    got = lh.snapshot_read(spark, table).toArrow()
    got = got.cast(pa.schema([
        pa.field(f.name, pa.timestamp(f.type.unit))
        if pa.types.is_timestamp(f.type) else f
        for f in got.schema
    ]))
    con.register("got", got)
    out = {}
    for c in got.column_names:
        q = (f"SELECT count(*) FROM (SELECT {key}, {c} FROM {{}} "
             f"EXCEPT ALL SELECT {key}, {c} FROM {{}})")
        out[c] = sum(con.execute(q.format(a, b)).fetchone()[0]
                     for a, b in (("t", "got"), ("got", "t")))
    con.close()
    return out


def side(checkout: str, cycles: int, seed: int, sf: float) -> dict:
    sys.path.insert(0, os.path.abspath(checkout))
    sys.path.insert(0, PERFBENCH)
    import corpus
    import workloads as wl

    sf_dir = corpus.scaled(sf, wl.INGEST_FACTOR)
    changes = corpus.changesets(sf_dir, seed, cycles, wl.UPSERT_FRAC,
                                wl.DELETE_FRAC, wl.APPEND_FRAC, 1)
    run_dir = tempfile.mkdtemp(prefix="rewrite_ab_")
    session = wl.Session(run_dir)
    spark, key = session.spark, wl.INGEST_KEY
    from cuny_courses_spark.operators import lakehouse as lh

    table = os.path.join(run_dir, "lake", "orders")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        lh.snapshot_write(spark.read.parquet(f"{sf_dir}/orders.parquet"), table, key)
        verbs: dict[str, dict] = {}
        log = []
        for c in range(cycles):
            for verb in ("merge", "append", "delete", "optimize"):
                path = os.path.join(changes, f"c{c}_{verb if verb != 'append' else 'append0'}.parquet")
                parent = lh.latest_version(table)
                before = _dir_bytes(table)
                group = f"ab-{verb}-{c}"
                sc.setJobGroup(group, group)
                t = time.perf_counter()
                if verb == "optimize":
                    lh.optimize_compact(spark, table, parent, key)
                else:
                    rows = spark.read.parquet(path)
                    if verb == "merge":
                        lh.merge_upsert(spark, table, parent, rows, key)
                    elif verb == "delete":
                        lh.delete_merge_on_read(spark, table, parent, rows, key)
                    else:
                        lh.append_snapshot(table, parent, rows, key)
                    log.append((verb, path))
                secs = time.perf_counter() - t
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = tracker.getJobIdsForGroup(group)
                stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
                tasks = sum(
                    info.numTasks for info in map(tracker.getStageInfo, stages)
                    if info is not None and info.numCompletedTasks
                )
                v = verbs.setdefault(verb, {"s": [], "jobs": [], "tasks": [], "bytes": []})
                v["s"].append(round(secs, 3))
                v["jobs"].append(len(jobs))
                v["tasks"].append(tasks)
                v["bytes"].append(_dir_bytes(table) - before)
        parity = _parity(spark, lh, table, sf_dir, log, key)
    finally:
        session.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    return {"checkout": checkout, "verbs": verbs, "parity": parity}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("checkouts", nargs="+")
    ap.add_argument("--cycles", type=int, default=4)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--side", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.side:
        print(json.dumps(side(a.checkouts[0], a.cycles, a.seed, a.sf)))
        return
    results = []
    for checkout in a.checkouts:
        out = subprocess.run(
            [sys.executable, __file__, "--side", checkout, "--cycles", str(a.cycles),
             "--seed", str(a.seed), "--sf", str(a.sf)],
            check=True, capture_output=True, text=True,
        ).stdout.strip().splitlines()[-1]
        print(out, flush=True)
        results.append(json.loads(out))
    for verb in ("merge", "append", "delete", "optimize"):
        row = {"verb": verb}
        for r in results:
            v = r["verbs"][verb]
            warm = sorted(v["s"][1:])
            row[r["checkout"]] = {
                "cold_s": v["s"][0],
                "warm_median_s": warm[len(warm) // 2] if warm else None,
                "jobs": v["jobs"][-1], "tasks": v["tasks"][-1],
                "bytes": v["bytes"][-1],
                "parity_bad": sum(r["parity"].values()),
            }
        print(json.dumps(row))


if __name__ == "__main__":
    main()
