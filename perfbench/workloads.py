"""The benchmark's workloads: set-up, the timed closed loop and the output
checks, driving the engine only through its public calls.

Load is one closed-loop client in one process: each operation starts after
the previous one returns. A query workload's window runs whole rounds (every
query once, in a seeded order); the ingest workload's runs whole commit
cycles. Output checks run after the window, so they never count toward its
time; a mismatch counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import corpus

# One JVM heap size for every workload, so peak memory is comparable
# across runs and stays well inside a shared host.
DRIVER_MEM = "3g"


@dataclass(frozen=True)
class QuerySpec:
    factor: int | None  # None: the base corpus; N: N key-shifted replicas
    queries: tuple[str, ...]
    adopters: tuple[str, ...] = ()  # queries that can scan bucketed mirrors


SHORT = QuerySpec(
    factor=None,
    queries=(
        "q_agg_groupby", "q_limit_topk", "q_join_star_multiway",
        "q_win_latest_per_key", "q_stream_tumbling", "q_sim_pairs_threshold",
        "q_sql_q3_shipping_priority", "q_sql_q6_forecast_filter",
        "q_sql_q14_promo_share", "q_text_idf_top_terms",
        "q_text_rarity_score", "q_ts_sessionize",
    ),
)
# q17, the sixth adopter, is left out: its lineitem-by-partkey mirror
# alone adds about 9 s of set-up to every run, and the runs a benchmark
# check makes must fit in one hour.
ADOPTERS = (
    "q_sql_q21_waiting_supplier", "q_sql_q13_cust_distribution",
    "q_sql_q10_returned_topk", "q_sql_q4_priority_exists",
    "q_sql_q12_priority_by_class",
)
HEAVY = QuerySpec(
    # Seven replicas is the smallest factor at which orders (150 k rows
    # per replica) reaches the engine's 1 M-row mirror threshold.
    factor=7,
    # q3 and q18 are TPC-H shapes that do not adopt the mirrors; q18 also
    # opts out of the plan cache.
    queries=ADOPTERS + ("q_sql_q3_shipping_priority", "q_sql_q18_volume_customer"),
    adopters=ADOPTERS,
)
QUERY_WORKLOADS = {"short_sf0.1": SHORT, "heavy_x7": HEAVY}

INGEST = "ingest_x10"
INGEST_FACTOR = 10
INGEST_KEY = "o_orderkey"
UPSERT_FRAC, DELETE_FRAC, APPEND_FRAC = 0.01, 0.001, 0.001
APPENDS = 1  # appends per cycle

WORKLOADS = (*QUERY_WORKLOADS, INGEST)

# Seconds one round (or cycle) of each workload takes on a 4-core host.
# A window runs a fixed number of them, ``window_units``, so every run of
# a workload does the same work whatever the host's speed at the time: a
# window that stopped on the clock would hold one round on a busy host and
# two on a quiet one.
UNIT_S = {"short_sf0.1": 4.0, "heavy_x7": 12.0, INGEST: 20.0}


def window_units(workload: str, seconds: float) -> int:
    """Rounds or cycles per window: the whole number closest to
    ``seconds`` of work, and at least one."""
    return max(1, round(seconds / UNIT_S[workload]))


def ingest_cycles(seconds: float) -> int:
    """Changeset cycles to generate: one window's worth each for the
    untraced and the traced window."""
    return 2 * window_units(INGEST, seconds)


@dataclass
class Op:
    kind: str
    name: str
    latency: float = 0.0
    ok: bool = False
    rows: int = 0
    error: str = ""
    spark: dict = field(default_factory=dict)  # traced runs only


def percentile_tail(values: list[float]) -> tuple[int, float]:
    """(p, value) of the highest percentile with at least ten samples above
    it (nearest rank). With fewer than 20 samples that percentile would
    sit below the median, so the maximum (p100) is reported instead."""
    xs = sorted(values)
    n = len(xs)
    p = math.floor(100 * (1 - 10 / n))
    if p < 50:
        return 100, xs[-1]
    return p, xs[max(0, math.ceil(p / 100 * n) - 1)]


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    live descendant: the driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _no_span(_name):
    return nullcontext()


class Session:
    """A ``local[nproc]`` engine session whose warehouse, lake tables and
    Spark scratch space all live under one per-run directory."""

    def __init__(self, run_dir: str, tracer=None) -> None:
        self.run_dir = run_dir
        local = os.path.join(run_dir, "local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ])
        span = tracer.span if tracer else _no_span
        t = time.perf_counter()
        with span("session.start"):
            from cuny_courses_spark.session import get_session

            self.spark = get_session("perfbench")
        self.start_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        with span("registry.load"):
            from cuny_courses_spark import registry

            self.queries = registry.queries()
            self.oracles = registry.oracles()
        self.registry_s = time.perf_counter() - t

    def mirrors(self) -> int:
        wh = os.path.join(self.run_dir, "warehouse")
        return sum(1 for d in os.listdir(wh) if d.startswith("ccs_bkt_")) if os.path.isdir(wh) else 0

    def settle(self) -> None:
        """Flush the files set-up wrote (the mirrors, the lake table) to
        disk, so that their write-back does not overlap the timed window."""
        os.sync()

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        kids = _descendants(os.getpid())
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
            time.sleep(0.05)


class Loop:
    """Runs operations one after another and records each one. With a
    tracer, every op gets a root span and Spark's metrics for its jobs."""

    def __init__(self, tracer=None, probe=None) -> None:
        self.tracer, self.probe = tracer, probe
        self.span = tracer.span if tracer else _no_span
        self.ops: list[Op] = []
        self.wall = 0.0

    def run(self, kind: str, name: str, fn) -> object:
        op = Op(kind, name)
        out = None
        if self.tracer is not None:
            op_id = f"{kind}#{len(self.ops)}"
            self.tracer.op_id = op_id
            self.probe.begin(op_id)
            root = self.tracer.span(f"op.{kind}")
            op_span = root.__enter__()
        t = time.perf_counter()
        try:
            out = fn()
            op.ok = True
        except Exception as e:  # a failed op is counted; the loop goes on
            op.error = f"{type(e).__name__}: {str(e)[:200]}"
        op.latency = time.perf_counter() - t
        if self.tracer is not None:
            end = time.time()
            root.__exit__(None, None, None)
            op.spark = self.probe.end(op_id, self.tracer, op_span)
            op.spark["op_end"] = end
            self.tracer.op_id = "between"
        self.ops.append(op)
        return out


# --------------------------------------------------------------- queries


def _naive_timestamps(table):
    """``toArrow`` tags timestamps with the session time zone (UTC); the
    oracle side, like Spark's ``toPandas``, has naive UTC timestamps."""
    import pyarrow as pa

    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            table = table.set_column(i, f.name, table.column(i).cast(pa.timestamp(f.type.unit)))
    return table


def query_corpus(spec: QuerySpec, sf: float) -> str:
    return corpus.base(sf) if spec.factor is None else corpus.scaled(sf, spec.factor)


class QueryRun:
    def __init__(self, spec: QuerySpec, session: Session, sf_dir: str) -> None:
        self.spec, self.session, self.sf_dir = spec, session, sf_dir
        self.first_results: dict = {}

    def warm_up(self, tracer=None) -> None:
        """One call of each query: fills the plan cache, builds the bucketed
        mirrors the adopters ask for, and warms the JVM."""
        span = tracer.span if tracer else _no_span
        qs, spark = self.session.queries, self.session.spark
        for name in self.spec.queries:
            with span("warmup"):
                qs[name](spark, self.sf_dir).toArrow()

    def window(self, seed: int, rounds: int, loop: Loop) -> Loop:
        rng = random.Random(seed)
        qs, spark, sf_dir, span = self.session.queries, self.session.spark, self.sf_dir, loop.span

        def call(name):
            def fn():
                with span("registry.call"):
                    df = qs[name](spark, sf_dir)
                with span("collect.arrow"):
                    return df.toArrow()
            return fn

        start = time.perf_counter()
        for _ in range(rounds):
            order = list(self.spec.queries)
            rng.shuffle(order)
            for name in order:
                table = loop.run("query", name, call(name))
                if table is not None:
                    loop.ops[-1].rows = table.num_rows
                    self.first_results.setdefault(name, table)
        loop.wall = time.perf_counter() - start
        return loop

    def check(self, corrupt: frozenset = frozenset()) -> list[str]:
        """Compare each distinct query's first result with its DuckDB oracle
        on the same files; return the names that do not match. ``corrupt``
        drops a row from those queries' results first (for tests)."""
        from cuny_courses_spark.oracle import compare, duck_con

        con = duck_con(self.sf_dir)
        bad = []
        for name in self.spec.queries:
            table = self.first_results.get(name)
            if table is None:
                continue  # the op itself failed and is already counted
            sp = _naive_timestamps(table).to_pandas()
            if name in corrupt:
                sp = sp.iloc[1:]
            status, _msg = compare(sp, con.execute(self.session.oracles[name]).df())
            if status != "PASS":
                bad.append(name)
        con.close()
        return bad


# ---------------------------------------------------------------- ingest


class IngestRun:
    """One writer over a lakehouse table of ``orders``: each cycle commits a
    copy-on-write upsert, ``APPENDS`` append(s) of new keys, a merge-on-read
    delete and an OPTIMIZE, each followed by a HEAD aggregate read.

    OPTIMIZE runs every cycle, not every few: a window holds one cycle
    (``UNIT_S``), and an OPTIMIZE every second cycle would need two cycles
    per window, doubling every run's timed part."""

    VERBS = ("merge", "append", "delete", "optimize")
    # (verb, changeset file stem) of each commit in a cycle
    CYCLE = (("merge", "merge"), *(("append", f"append{j}") for j in range(APPENDS)),
             ("delete", "delete"), ("optimize", None))

    def __init__(self, session: Session, sf_dir: str, changes: str, cycles: int) -> None:
        self.session, self.sf_dir, self.changes = session, sf_dir, changes
        self.cycles = cycles  # changeset cycles in ``changes``
        self.table = os.path.join(session.run_dir, "lake", "orders")
        self.cycle = 0
        # ("commit", verb, changeset path) for each successful commit and
        # ("read", (rows, cents) or None) for each HEAD read, in order.
        self.log: list[tuple] = []
        self.attempts = 0
        self.commit_calls = 0
        self.input_bytes = 0
        self.setup_bytes = 0

    def setup(self, tracer=None) -> None:
        """Write the table and read it once, untimed. A cycle's cost is
        mostly fixed per commit, whatever the table's size, so an untimed
        warm-up cycle would cost as much as a timed one; the first timed
        cycle pays the commit paths' warm-up instead."""
        from cuny_courses_spark.operators import lakehouse as lh

        span = tracer.span if tracer else _no_span
        with span("lakehouse.snapshot_write"):
            src = self.session.spark.read.parquet(os.path.join(self.sf_dir, "orders.parquet"))
            lh.snapshot_write(src, self.table, INGEST_KEY, version=1)
        self._read(span)()
        self.setup_bytes = dir_bytes(self.table)

    def _commit(self, verb: str, path: str | None, span):
        from cuny_courses_spark.operators import lakehouse as lh

        spark, table = self.session.spark, self.table

        def attempt(parent: int):
            self.attempts += 1
            if verb == "optimize":
                return lh.optimize_compact(spark, table, parent, INGEST_KEY)
            rows = spark.read.parquet(path)
            if verb == "merge":
                return lh.merge_upsert(spark, table, parent, rows, INGEST_KEY)
            if verb == "delete":
                return lh.delete_merge_on_read(spark, table, parent, rows, INGEST_KEY)
            return lh.append_snapshot(table, parent, rows, INGEST_KEY)

        def fn():
            self.commit_calls += 1
            with span(f"lakehouse.{verb}"):
                lh.commit_with_retry(table, attempt)

        return fn

    def _read(self, span):
        from pyspark.sql import functions as F

        from cuny_courses_spark.operators import lakehouse as lh

        spark, table = self.session.spark, self.table

        def fn():
            with span("lakehouse.snapshot_read"):
                df = lh.snapshot_read(spark, table).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
                )
            with span("collect.arrow"):
                t = df.toArrow()
            return int(t.column("n")[0].as_py()), int(t.column("cents")[0].as_py() or 0)

        return fn

    def _step(self, verb: str, stem: str | None, loop: Loop, after_op) -> None:
        """One commit (of changeset ``stem`` of the current cycle), then one
        HEAD read."""
        path = stem and os.path.join(self.changes, f"c{self.cycle}_{stem}.parquet")
        if path:
            self.input_bytes += os.path.getsize(path)
        loop.run(verb, stem or verb, self._commit(verb, path, loop.span))
        if loop.ops[-1].ok:
            self.log.append(("commit", verb, path))
        if after_op:
            after_op(loop.ops[-1])
        got = loop.run("read", "head", self._read(loop.span))
        loop.ops[-1].rows = 1 if got else 0
        self.log.append(("read", got))
        if after_op:
            after_op(loop.ops[-1])

    def window(self, cycles: int, loop: Loop, after_op=None) -> Loop:
        start = time.perf_counter()
        for _ in range(cycles):
            if self.cycle == self.cycles:
                raise RuntimeError(f"all {self.cycles} changeset cycles used")
            for verb, stem in self.CYCLE:
                self._step(verb, stem, loop, after_op)
            self.cycle += 1
        loop.wall = time.perf_counter() - start
        return loop

    def head_files(self) -> list[str]:
        from cuny_courses_spark.operators import lakehouse as lh

        return lh.read_manifest(self.table, lh.latest_version(self.table))

    def amplification(self) -> tuple[float, float]:
        """(write_amp, space_amp): bytes written under the table directory
        per byte of changeset input, and bytes on disk per byte of the
        files the HEAD manifest lists."""
        on_disk = dir_bytes(self.table)
        live = sum(os.path.getsize(p) for p in self.head_files())
        return (on_disk - self.setup_bytes) / max(1, self.input_bytes), on_disk / max(1, live)

    def check(self, corrupt: bool = False) -> int:
        """Replay the committed changesets in DuckDB; return how many HEAD
        reads disagree with the replay on row count or price sum, plus one
        if the final key sets differ. ``corrupt`` alters the last read
        first (for tests)."""
        import duckdb
        import numpy as np

        from cuny_courses_spark.operators import lakehouse as lh

        log = list(self.log)
        if corrupt:
            i = max(i for i, e in enumerate(log) if e[0] == "read")
            n, cents = log[i][1]
            log[i] = ("read", (n + 1, cents))
        con = duckdb.connect()
        src = os.path.join(self.sf_dir, "orders.parquet")
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{src}')")
        agg = ("SELECT count(*), coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)"
               " FROM t")
        bad = 0
        for entry in log:
            if entry[0] == "read":
                n, cents = con.execute(agg).fetchone()
                bad += entry[1] != (int(n), int(cents))
                continue
            _, verb, path = entry
            if verb in ("merge", "delete"):
                con.execute(f"DELETE FROM t WHERE {INGEST_KEY} IN "
                            f"(SELECT {INGEST_KEY} FROM read_parquet('{path}'))")
            if verb in ("merge", "append"):
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{path}')")
        want = con.execute(f"SELECT {INGEST_KEY} FROM t").fetchnumpy()[INGEST_KEY]
        con.close()
        got = (lh.snapshot_read(self.session.spark, self.table)
               .select(INGEST_KEY).toArrow().column(0).to_numpy())

        def digest(keys) -> str:
            return hashlib.sha256(np.sort(np.asarray(keys, dtype=np.int64)).tobytes()).hexdigest()

        return bad + (digest(got) != digest(want))
