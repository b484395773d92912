"""Benchmark of the cuny_courses_spark engine.

    python3 perfbench/run.py [--workload NAME|all] [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root. Each workload runs in a fresh process
(``--workload all`` starts one child per workload). The untraced run
(``--trace 0``) prints the end-to-end metrics; the traced run (``--trace
1``) first repeats the untraced window, then runs a traced one and prints
the per-layer metrics plus the tracing overhead between the two. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Lines before it show every metric, including those that are not in the
JSON. The process exits with 1 when any operation failed or gave a wrong
result. See ``perfbench/README.md`` for the workloads and
for which layer metric is expected to move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_ROOT = os.path.join(HERE, ".run")

sys.path.insert(0, HERE)

# The metrics in the final JSON line of an untraced run: each must hold,
# and never read zero, on every workload, and vary between runs of the
# same code by less than the bound BENCHMARK.json gives it. The other
# end-to-end metrics are printed only:
# * fail_frac is 0 whenever the engine is right; the line's "failed" and
#   "attempted" carry it.
# * query_tail_s needs at least 20 samples to have a percentile with ten
#   beyond it; a window holds 4 to 14, so it is only their maximum.
# * query_p50_s (a median of 4 to 14 unlike operations) and peak_rss_mb
#   (set by the JVM's heap sizing) spread by up to 0.19 and 0.24 of their
#   median (quartile distance) over ten runs on a 4-core host, too close
#   to the widest bound a benchmark may set (0.25).
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
}
# ingest_x10's own end-to-end metrics. They do not exist on the query
# workloads, so they cannot be in the list above; the traced run carries
# them in its JSON line, measured on its untraced window, as
# ``lakehouse.<name>`` (0 on the query workloads).
INGEST_END_TO_END = {
    "merge_p50_s": "s",
    "append_p50_s": "s",
    "delete_p50_s": "s",
    "optimize_p50_s": "s",
    "read_p50_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "dispatch.empty_job_s": "s",
    "dispatch.jobs_per_op": "count",
    "dispatch.stages_per_op": "count",
    "dispatch.tasks_per_op": "count",
    "exec.execute_s": "s",
    "exec.scan.rows": "count",
    "exec.scan.bytes": "B",
    "exec.exchange.count": "count",
    "exec.exchange.shuffle_bytes": "B",
    "exec.sort.count": "count",
    "exec.sort.time_s": "s",
    "exec.sort.spill_bytes": "B",
    "exec.aggregate.time_s": "s",
    "exec.join.smj": "count",
    "exec.join.bhj": "count",
    "exec.join.shj": "count",
    "exec.rows_scanned_per_row_out": "ratio",
    "collect.arrow_s": "s",
    "collect.rows": "count",
    "plan_cache.hit_ratio": "ratio",
    "bucketed.mirror_builds": "count",
    "bucketed.adoption_ratio": "ratio",
    "lakehouse.files_rewritten_per_commit": "count",
    "lakehouse.bytes_written_per_commit": "B",
    "lakehouse.dv_files_per_read": "count",
    "lakehouse.optimize_bytes_rewritten": "B",
    "lakehouse.commit_retries": "count",
    **{f"lakehouse.{k}": u for k, u in INGEST_END_TO_END.items()},
    "trace.overhead_frac": "ratio",
}


def engine_available() -> bool:
    return os.path.isfile(os.path.join(ROOT, "cuny_courses_spark", "registry.py"))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _window(run, loop, seed, units, after_op=None):
    from workloads import QueryRun

    if isinstance(run, QueryRun):
        return run.window(seed, units, loop)
    return run.window(units, loop, after_op=after_op)


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 sf: float = 0.1, corrupt: frozenset = frozenset()) -> dict:
    """Set up, measure and check one workload in this process. Returns
    ``{"attempted", "failed", "metrics": {name: (value, unit, note)}}``.
    A window holds ``workloads.window_units(workload, seconds)`` rounds or
    cycles. ``sf`` and ``corrupt`` (query names, or "ingest", whose
    results are altered before the checks) exist for the benchmark's own
    tests."""
    import corpus
    import workloads as wl
    from tracing import SparkProbe, Tracer

    units = wl.window_units(workload, seconds)
    t = time.perf_counter()
    if workload in wl.QUERY_WORKLOADS:
        spec = wl.QUERY_WORKLOADS[workload]
        sf_dir = wl.query_corpus(spec, sf)
    else:
        sf_dir = corpus.scaled(sf, wl.INGEST_FACTOR)
        cycles = wl.ingest_cycles(seconds)
        changes = corpus.changesets(sf_dir, seed, cycles, wl.UPSERT_FRAC,
                                    wl.DELETE_FRAC, wl.APPEND_FRAC, wl.APPENDS)
    gen_s = time.perf_counter() - t

    run_dir = os.path.join(RUN_ROOT, workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = Tracer() if trace else None
    session = wl.Session(run_dir, tracer)
    try:
        if tracer:
            tracer.install()
        if workload in wl.QUERY_WORKLOADS:
            run = wl.QueryRun(spec, session, sf_dir)
            run.warm_up(tracer)
        else:
            run = wl.IngestRun(session, sf_dir, changes, cycles)
            run.setup(tracer)
        session.settle()
        setup_s = wl.process_age() - gen_s
        if tracer:
            tracer.uninstall()
        main = _window(run, wl.Loop(), seed, units)
        traced = probe = None
        if tracer:
            probe = SparkProbe(session.spark)
            after = _ingest_probe(run, probe) if isinstance(run, wl.IngestRun) else None
            tracer.install()
            traced = _window(run, wl.Loop(tracer, probe), seed, units, after)
            tracer.uninstall()
        rss = wl.peak_rss_mb()
        if isinstance(run, wl.QueryRun):
            mismatches = len(run.check(corrupt))
        else:
            mismatches = run.check("ingest" in corrupt)
        out = _end_to_end(main, setup_s, rss, run)
        if tracer:
            out.update(_per_layer(main, traced, tracer, probe, session, run))
            for k, u in INGEST_END_TO_END.items():
                out[f"lakehouse.{k}"] = (out.get(k, (0.0,))[0], u, "untraced window")
    finally:
        session.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = sum(not o.ok for o in main.ops) + mismatches
    out["fail_frac"] = (failed / max(1, len(main.ops)), "ratio", "")
    return {"attempted": len(main.ops), "failed": failed, "metrics": out}


def _end_to_end(main, setup_s, rss, run) -> dict:
    import workloads as wl

    done = [o for o in main.ops if o.ok]
    q = [o.latency for o in done if o.kind in ("query", "read")]
    pct, tail = wl.percentile_tail(q) if q else (100, 0.0)
    out = {
        "setup_s": (setup_s, "s", ""),
        "ops_per_s": (len(done) / main.wall, "1/s", f"{len(done)} ops in {main.wall:.2f} s"),
        "query_p50_s": (_median(q), "s", f"n={len(q)}"),
        "query_tail_s": (tail, "s", f"p{pct}, n={len(q)}"),
        "peak_rss_mb": (rss, "MB", "driver + JVM + Python workers"),
    }
    if isinstance(run, wl.IngestRun):
        for verb in (*run.VERBS, "read"):
            xs = [o.latency for o in done if o.kind == verb]
            out[f"{verb}_p50_s"] = (_median(xs), "s", f"n={len(xs)}")
        write_amp, space_amp = run.amplification()
        out["write_amp"] = (write_amp, "ratio", "bytes written / changeset bytes")
        out["space_amp"] = (space_amp, "ratio", "bytes on disk / HEAD file bytes")
    return out


def _ingest_probe(run, probe):
    """Per-commit and per-read lakehouse counts for the traced window,
    taken between operations from the table directory and the public
    manifest and metadata-table calls."""
    import workloads as wl
    from cuny_courses_spark.operators import lakehouse as lh

    state = {"bytes": wl.dir_bytes(run.table), "files": set(run.head_files())}

    def after(op):
        if not op.ok:
            return
        if op.kind == "read":
            files = lh.table_files(run.session.spark, run.table).toArrow()
            op.spark["dv_files"] = float(sum(files.column("n_dvs").to_pylist()))
        else:
            size, files = wl.dir_bytes(run.table), set(run.head_files())
            op.spark["bytes_written"] = float(size - state["bytes"])
            op.spark["files_rewritten"] = float(len(state["files"] - files))
            state["bytes"], state["files"] = size, files
        probe.skip_new()

    return after


def _per_layer(main, traced, tracer, probe, session, run) -> dict:
    import workloads as wl

    ops = traced.ops
    n = max(1, len(ops))
    ids = {f"{o.kind}#{i}" for i, o in enumerate(ops)}

    def total(key, sel=ops):
        return sum(o.spark.get(key, 0.0) for o in sel)

    totals = tracer.totals(ids)
    setup_totals = tracer.totals({"setup"})
    out: dict = {
        "session.start_s": (session.start_s, "s", ""),
        "registry.load_s": (session.registry_s, "s", ""),
        "dispatch.empty_job_s": (probe.empty_job_s(), "s", "median of 15 one-task jobs"),
        "dispatch.jobs_per_op": (total("jobs") / n, "count", ""),
        "dispatch.stages_per_op": (total("stages") / n, "count", ""),
        "dispatch.tasks_per_op": (total("tasks") / n, "count", ""),
        "exec.execute_s": (total("execute_s") / n, "s", "per op, SQL executions"),
    }
    for key in ("scan.rows", "scan.bytes", "exchange.count", "exchange.shuffle_bytes",
                "sort.count", "sort.time_s", "sort.spill_bytes", "aggregate.time_s",
                "join.smj", "join.bhj", "join.shj"):
        out[f"exec.{key}"] = (total(key) / n, PER_LAYER[f"exec.{key}"], "per op")
    rows_out = sum(o.rows for o in ops)
    out["exec.rows_scanned_per_row_out"] = (total("scan.rows") / max(1, rows_out), "ratio", "")
    arrow = [max(0.0, o.spark["op_end"] - o.spark["last_job_end"])
             for o in ops if o.ok and o.spark.get("last_job_end")]
    out["collect.arrow_s"] = (sum(arrow) / n, "s", "per op, last job end to toArrow return")
    out["collect.rows"] = (rows_out / n, "count", "per op")

    calls, hits, build_s = _plan_cache(tracer, ids)
    out["plan_cache.hit_ratio"] = (hits / calls if calls else 0.0, "ratio", f"{hits}/{calls}")
    out["bucketed.mirror_builds"] = (float(session.mirrors()), "count", "")
    adopters = [o for o in ops if o.name in getattr(run, "spec", wl.SHORT).adopters and o.ok]
    adopted = sum(1 for o in adopters if o.spark.get("mirror_scans"))
    out["bucketed.adoption_ratio"] = (
        adopted / len(adopters) if adopters else 0.0, "ratio", f"{adopted}/{len(adopters)}")

    commits = [o for o in ops if o.ok and o.kind in wl.IngestRun.VERBS]
    reads = [o for o in ops if o.ok and o.kind == "read"]
    optimizes = [o for o in commits if o.kind == "optimize"]
    nc = max(1, len(commits))
    out["lakehouse.files_rewritten_per_commit"] = (total("files_rewritten", commits) / nc, "count", "")
    out["lakehouse.bytes_written_per_commit"] = (total("bytes_written", commits) / nc, "B", "")
    out["lakehouse.dv_files_per_read"] = (total("dv_files", reads) / max(1, len(reads)), "count", "")
    out["lakehouse.optimize_bytes_rewritten"] = (
        total("bytes_written", optimizes) / max(1, len(optimizes)), "B", "per OPTIMIZE")
    retries = getattr(run, "attempts", 0) - getattr(run, "commit_calls", 0)
    out["lakehouse.commit_retries"] = (float(retries), "count", "whole run")

    untraced = len([o for o in main.ops if o.ok]) / main.wall
    traced_rate = len([o for o in ops if o.ok]) / traced.wall
    out["trace.overhead_frac"] = (1.0 - traced_rate / untraced, "ratio",
                                  f"ops/s untraced {untraced:.4f}, traced {traced_rate:.4f}")

    # Workload-specific per-layer times: printed, not in the JSON line.
    extra = {}
    if "session.tune" in totals:
        c, t = totals["session.tune"]
        extra["session.tune_s"] = (t / c, "s", f"per is_small_input call, n={c}")
    if "registry.call" in totals:
        c, t = totals["registry.call"]
        extra["registry.call_s"] = (t / c, "s", f"per call, n={c}")
        extra["plan_cache.miss_build_s"] = (build_s / c, "s", "per call: misses + opt-outs")
    mirror = [totals.get("bucketed.clustered_view", (0, 0.0)),
              setup_totals.get("bucketed.clustered_view", (0, 0.0))]
    if mirror[0][0] or mirror[1][0]:
        extra["bucketed.mirror_build_s"] = (
            mirror[0][1] + mirror[1][1], "s", "clustered_view time, set-up + window")
    if "lakehouse.commit_snapshot" in totals:
        c, t = totals["lakehouse.commit_snapshot"]
        extra["lakehouse.commit_snapshot_s"] = (t / c, "s", f"per commit, n={c}")
    if optimizes:
        extra["lakehouse.optimize_s"] = (_median([o.latency for o in optimizes]), "s", "median")
    for name, s in sorted(tracer.self_times(ids).items()):
        extra[f"self.{name}_s"] = (s / n, "s", "self time per op")
    out.update(extra)
    return out


def _plan_cache(tracer, ids) -> tuple[int, int, float]:
    """(registry calls, plan-cache hits, plan build seconds) in ``ids``.
    A call hits when its lookup built nothing; a call with no lookup at
    all is a query that opts out of the cache, so its whole call is build
    time."""
    kids = defaultdict(list)
    for i, s in enumerate(tracer.spans):
        if s["parent"] is not None:
            kids[s["parent"]].append(i)
    calls = hits = 0
    build = 0.0
    for i, s in enumerate(tracer.spans):
        if s["op"] not in ids or s["name"] != "registry.call":
            continue
        calls += 1
        lookups = [k for k in kids[i] if tracer.spans[k]["name"] == "plan_cache.lookup"]
        if not lookups:
            build += s["end"] - s["start"]
            continue
        misses = [m for k in lookups for m in kids[k]
                  if tracer.spans[m]["name"] == "plan_cache.miss_build"]
        hits += not misses
        build += sum(tracer.spans[m]["end"] - tracer.spans[m]["start"] for m in misses)
    return calls, hits, build


def report(result: dict, trace: bool) -> dict:
    """Print every metric on its own line, then the contract JSON line."""
    names = PER_LAYER if trace else END_TO_END
    for name, (value, unit, note) in result["metrics"].items():
        print(f"{name:<40} {value:>16.6g} {unit:<6} {note}")
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": result["metrics"][k][0], "unit": u} for k, u in names.items()},
    }
    print(json.dumps(line), flush=True)
    return line


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not engine_available():
        print(f"perfbench: engine package cuny_courses_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    import workloads as wl

    if args.workload == "all":
        code = 0
        for name in wl.WORKLOADS:
            print(f"== {name}", flush=True)
            code |= subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
            ).returncode
        return code
    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {wl.WORKLOADS}",
              file=sys.stderr)
        return 2
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    report(result, bool(args.trace))
    return 1 if result["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
