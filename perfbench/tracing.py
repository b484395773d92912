"""Traced-run instrumentation, kept entirely outside the engine.

* ``Tracer`` keeps spans in memory: name, start, end, parent span and op
  id. The benchmark opens a span around each call it makes into the
  engine; ``Tracer.install`` additionally wraps a few public engine
  functions at their module attribute (the engine resolves them there at
  call time), so calls the engine makes into its own layers become child
  spans too. ``uninstall`` restores the originals.
* ``SparkProbe`` reads Spark's own job and SQL metrics from the status
  stores after each operation (jobs of the op's job group, and every SQL
  execution started since the previous read). Job intervals become child
  spans of the benchmark span that was open when the job started.

Untraced runs never construct either object.
"""

from __future__ import annotations

import functools
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute, span name) of the engine functions wrapped in a
# traced run. Every loaded engine module holding the same function object
# under that name is patched, so name-imports are covered too.
WRAPPED = [
    ("cuny_courses_spark.session", "is_small_input", "session.tune"),
    ("cuny_courses_spark.plans.plan_cache", "get_or_build", "plan_cache.lookup"),
    ("cuny_courses_spark.sources.bucketed", "clustered_view", "bucketed.clustered_view"),
    ("cuny_courses_spark.operators.lakehouse", "commit_snapshot", "lakehouse.commit_snapshot"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = "setup"
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add_child(self, name: str, start: float, end: float, parent: int) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "op": self.spans[parent]["op"]})

    def _wrap(self, fn, name: str):
        tracer = self

        if name == "plan_cache.lookup":
            @functools.wraps(fn)
            def lookup(qname, build, spark, sf_dir):
                @functools.wraps(build)
                def traced_build(*a, **k):
                    with tracer.span("plan_cache.miss_build"):
                        return build(*a, **k)

                with tracer.span(name):
                    return fn(qname, traced_build, spark, sf_dir)

            return lookup

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        return wrapper

    def install(self) -> None:
        for mod_name, attr, span_name in WRAPPED:
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=[attr])
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("cuny_courses_spark")
                        and getattr(m, attr, None) is orig):
                    setattr(m, attr, wrapped)
                    self._patched.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids[s["parent"]].append(i)
        return kids

    def self_times(self, ops) -> dict[str, float]:
        """Total self time per span name over spans of ``ops``: the span's
        duration minus the part of it that its children's intervals cover."""
        kids = self._children()
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["op"] not in ops or s["end"] is None:
                continue
            covered = _union_length(
                [(self.spans[k]["start"], self.spans[k]["end"]) for k in kids.get(i, [])],
                s["start"], s["end"],
            )
            out[s["name"]] += max(0.0, s["end"] - s["start"] - covered)
        return dict(out)

    def totals(self, ops) -> dict[str, tuple[int, float]]:
        """(count, total duration) per span name over spans of ``ops``."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if s["op"] in ops and s["end"] is not None:
                out[s["name"]][0] += 1
                out[s["name"]][1] += s["end"] - s["start"]
        return {k: (c, t) for k, (c, t) in out.items()}

    def innermost(self, op: str, t: float) -> int | None:
        """Index of the deepest benchmark or engine span of ``op`` open at
        time ``t`` (Spark job spans excluded)."""
        best, depth = None, -1
        for i, s in enumerate(self.spans):
            if s["op"] != op or s["end"] is None or s["name"] == "spark.job":
                continue
            if s["start"] <= t <= s["end"]:
                d, p = 0, s["parent"]
                while p is not None:
                    d, p = d + 1, self.spans[p]["parent"]
                if d > depth:
                    best, depth = i, d
        return best


def _union_length(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, 0.0, None
    for s, e in sorted((max(lo, a), min(hi, b)) for a, b in iv):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str | None) -> float:
    """Numeric value of one SQL metric as the status store renders it:
    ``"1,715"``, ``"13.4 KiB"``, ``"45 ms"``, or for per-task metrics
    ``"total (min, med, max ...)\\n13.4 KiB (...)"`` (the total is used).
    Sizes come back in bytes, durations in seconds."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


# Operator families: plan-graph node name -> family.
_JOINS = {"SortMergeJoin": "smj", "BroadcastHashJoin": "bhj",
          "ShuffledHashJoin": "shj", "BroadcastNestedLoopJoin": "bnlj"}
_AGGS = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}


class SparkProbe:
    """Reads Spark's status stores through the session's JVM gateway."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._cc = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._next_exec = 0
        self.skip_new()

    def skip_new(self) -> None:
        """Advance the execution cursor past everything started so far."""
        self._bus.waitUntilEmpty()
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def end(self, op_id: str, tracer: Tracer, op_span: int) -> dict:
        """Jobs, stages, tasks and per-operator SQL metrics of ``op_id``;
        job intervals are added to ``tracer`` as ``spark.job`` spans."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self._bus.waitUntilEmpty()
        rec: dict = defaultdict(float)
        last_job_end = 0.0
        for jid in self.sc.statusTracker().getJobIdsForGroup(op_id):
            jd = self._wait(lambda: self._app.job(jid),
                            lambda j: j.completionTime().isDefined())
            start = jd.submissionTime().get().getTime() / 1000.0
            end = jd.completionTime().get().getTime() / 1000.0
            rec["jobs"] += 1
            rec["stages"] += jd.numCompletedStages()
            rec["tasks"] += jd.numCompletedTasks()
            last_job_end = max(last_job_end, end)
            parent = tracer.innermost(op_id, start)
            tracer.add_child("spark.job", start, end,
                             op_span if parent is None else parent)
        while self._sql.execution(self._next_exec).isDefined():
            ex = self._wait(lambda: self._sql.execution(self._next_exec).get(),
                            lambda e: e.completionTime().isDefined())
            self._next_exec += 1
            done = ex.completionTime()
            if done.isDefined():
                rec["execute_s"] += (done.get().getTime() - ex.submissionTime()) / 1000.0
            rec["executions"] += 1
            if "ccs_bkt_" in (ex.physicalPlanDescription() or ""):
                rec["mirror_scans"] += 1
            self._operator_metrics(ex.executionId(), rec)
        rec["last_job_end"] = last_job_end
        return rec

    def _wait(self, get, ready, timeout: float = 5.0):
        """Status-store entries update asynchronously (an execution's end
        event can trail the action's return); poll briefly until ready."""
        deadline = time.time() + timeout
        obj = get()
        while not ready(obj) and time.time() < deadline:
            time.sleep(0.005)
            self._bus.waitUntilEmpty()
            obj = get()
        return obj

    def _operator_metrics(self, exec_id: int, rec: dict) -> None:
        values = self._cc.asJava(self._sql.executionMetrics(exec_id))
        graph = self._sql.planGraph(exec_id)
        for node in self._cc.asJava(graph.allNodes()):
            name = node.name().strip()
            ms = {m.name(): metric_value(values.get(m.accumulatorId()))
                  for m in self._cc.asJava(node.metrics())}
            if name.startswith("Scan "):
                rec["scan.rows"] += ms.get("number of output rows", 0.0)
                rec["scan.bytes"] += ms.get("size of files read", 0.0)
            elif name == "Exchange":
                rec["exchange.count"] += 1
                rec["exchange.shuffle_bytes"] += ms.get("shuffle bytes written", 0.0)
            elif name == "Sort":
                rec["sort.count"] += 1
                rec["sort.time_s"] += ms.get("sort time", 0.0)
                rec["sort.spill_bytes"] += ms.get("spill size", 0.0)
            elif name in _AGGS:
                rec["aggregate.time_s"] += ms.get("time in aggregation build", 0.0)
            elif name in _JOINS:
                rec["join." + _JOINS[name]] += 1

    def empty_job_s(self, n: int = 15) -> float:
        """Median wall time of a one-task JVM-only job (``range(0, 1).count``):
        the fixed per-job dispatch cost."""
        jsc = self.sc._jsc.sc()
        times = []
        for _ in range(n):
            t = time.perf_counter()
            jsc.range(0, 1, 1, 1).count()
            times.append(time.perf_counter() - t)
        self.skip_new()
        times.sort()
        return times[len(times) // 2]
