"""SparkSession construction & runtime configuration.

The driver owns its SparkSession for verification, so everything the engine
relies on must be settable at *runtime* (``spark.conf.set``) — configure()
is applied at the top of every registered query. Session-building here is
for our own tests/bench.

Settings rationale (SURVEY §4):
- UTC session timezone: timestamp parity with the DuckDB oracle (µs, tz-free).
- AQE on: runtime coalescing of the small-sf shuffles, skew-join splitting and
  broadcast conversion at 100 TB.
- Arrow on: every pandas_udf / applyInPandas path is Arrow-batched.
- shuffle.partitions: modest default; AQE coalesces below it. On a real
  cluster this is sized to ~target-partition-bytes (128 MB) per SURVEY §7,
  not a constant.
- codegen cache sized to the query mix (engine-owned sessions only): see
  CODEGEN_CACHE_ENTRIES.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to any session the engine touches.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults ANSI on and every oracle alignment in this repo was
    # built under it; pin it so a driver-owned session that was started
    # with ANSI off (legacy configs) can't silently flip cast/division/
    # overflow semantics away from what the DuckDB twins verify.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects by default;
    # read it as int64 nanos and convert to µs TimestampType in the loader
    # (matches DuckDB's µs truncation — SURVEY §1.3 precision note).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet TIMESTAMP(isAdjustedToUTC=false) would otherwise infer as
    # TIMESTAMP_NTZ on Spark 4; keep plain TimestampType (session tz = UTC,
    # so values are identical and the FIXTURES.md schema contract holds).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Split small multi-row-group files across cores: the default 4 MB
    # open-cost floor packs a 14 MB file into ~4 splits. 1 MB balances
    # parallelism vs per-split overhead at test scale and is irrelevant for
    # production-sized (≥128 MB) files. (Swept 4M/2M/1M/128K: 128K thrashes.)
    "spark.sql.files.openCostInBytes": "1048576",
    # AUTO-broadcast bound 8 MB (was 32 MB): Spark estimates a scan's size
    # as file-size × column-pruning ratio, so a 2-column projection of a
    # snappy parquet FACT (6 M-row lineitem at the ×10 sweep point,
    # ~16-25 MB estimated) slid under 32 MB and the planner broadcast a
    # fact table — a 6 M-entry driver hash build per execution (r6: TPC-H
    # Q21 3.57 s → 1.78 s at ×10 from this one conf). 8 MB keeps every
    # genuinely bounded dim (nation/region/filtered customer ≤3 MB at
    # sf0.1) on the broadcast path and pushes scaling tables to shuffle
    # joins — the 100 TB-safe default. -1 measured WORSE (2.90 s): the
    # dims then shuffle too. Engine-pinned F.broadcast()/hints are
    # threshold-independent and unaffected.
    "spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024),
    # 4× the default vectorized-reader batch (4096): fewer batch-boundary
    # crossings in the ColumnarToRow loop — the measured scan floor is the
    # binding constraint on the pure scan+agg queries (r6 A/B at the ×100
    # point, alternating confs in one session: Q1 shape 0.86→0.80 and
    # 0.71→0.59 s, tumbling 0.64→0.61 and 0.60→0.38 s, lineitem 7-col
    # decode probe 0.76→0.63 s). Memory cost is ~1-2 MB per open reader.
    "spark.sql.parquet.columnarReaderBatchSize": "16384",
}

# Entries in Spark's generated-class cache (spark.sql.codegen.cache.
# maxEntries, default 100). A query mix that generates more classes than
# the cache holds evicts each query's classes before it runs again, so
# every call pays Janino again and runs the new classes interpreted until
# the JIT warms them up again — the plan cache then saves analysis only.
# Classes a fresh session compiles for one pass of a mix (4-core host):
# perfbench ingest_x10 50, heavy_x7 128, short_sf0.1 145; the 23 q_sql_*
# shapes at sf0.001 357; the first 116 of the 295 registered queries by
# name, at sf0.001, 1,264. At 100, heavy_x7's steady-state two-round
# windows recompiled 84-126 classes each; at 1000 they compile none
# (plans/*/codegen_per_window.py). 1000 holds every serving mix measured,
# the TPC-H set with 2.8× headroom; a pass over the whole registry runs
# each query once, so sizing for it buys nothing.
# It is a STATIC conf — fixed when the session's shared state starts — so
# it cannot live in RUNTIME_CONFS: configure()'s spark.conf.set would fail
# and be swallowed. A driver-owned session therefore keeps Spark's default;
# only get_session() pins it.
CODEGEN_CACHE_ENTRIES = 1000


# Below this input size, adaptive execution costs more than it saves:
# AQE materializes each shuffle as a separate query stage and re-plans on
# the driver between stages (~100-400 ms per query at local scale), which
# dwarfs any re-plan win when the whole input is megabytes. Above it, AQE
# is the scale story (runtime coalescing, skew-join split, SMJ→BHJ
# conversion) and stays on. The switch is computed from the actual bytes
# under sf_dir, so the same code path self-tunes from sf0.001 to 100 TB.
#
# The small/large switch governs TUNING (AQE, shuffle partitions) and
# ALGORITHM swaps (exact median → GK sketch, full → DF-capped inverted
# index, hub-capped wedge index, shuffle-hash fact joins). Since r4 the
# fixed-point accumulators need NO profile (common._fpx_total's split-long
# form is overflow-provable to ~8.8e12 rows), so misclassification costs
# only efficiency or tolerance-bounded approximation (small→large swaps
# exact medians for sketches and caps candidate generation — output
# changes stay inside each query's documented tolerance; large→small is
# purely a tuning loss) — but both bounds below still matter
# because parquet BYTES are compressed: the bench's ×100 replicated
# corpus compresses ~7×, and classifying an 88 M-row input as "small"
# (AQE off, 8 partitions) measured 2-3× slower on the join-heavy queries.
SMALL_INPUT_BYTES = 4 << 30  # 4 GiB

# Exact row cap for the small profile, from parquet footer metadata
# (O(#files) KB-sized footer reads, memoized per content signature) —
# the density-free bound the compressed-bytes heuristic can't give.
# Non-parquet/unreadable files contribute a deliberately pessimistic
# bytes/20 row estimate (over-counting rows only ever pushes toward the
# LARGE profile, which is the safe direction).
SMALL_INPUT_ROWS = 25_000_000

# Effective-size multiplier for the documents table (see _input_stats):
# shingle/token-index operators turn each text byte into roughly
# tokens/byte (~0.2) × shingle-string bytes (~24) × self-join fan-out
# (≥ 2 sides + agg state) ≈ 10²× of distributed state — calibrated by the
# r5 OOM: a 63 MB documents table behaved like a > 4 GiB relational input
# under the small profile's 8 reducers.
TEXT_EXPANSION = 96

# Memoized per (path, top-level content signature): a regenerated/grown
# dataset at the same path must re-derive the tuning decision (same contract
# as amplify.prepare_layout's size/mtime-keyed cache). Values are
# (bytes, rows) pairs — see _input_stats.
_DIR_BYTES: dict[tuple[str, tuple], tuple[int, int]] = {}


def _dir_signature(sf_dir: str, max_files: int = 10_000) -> tuple:
    """Cheap content identity for the tuning and plan caches:
    (relpath, size, mtime_ns) of every file under ``sf_dir``, RECURSIVE —
    directory-shaped tables (Spark-written parquet dirs) must change the
    signature when their part files change. O(#files) stat calls, no
    reads; capped at ``max_files`` entries (plus a total count so growth
    beyond the cap still changes the signature)."""
    try:
        acc: list[tuple] = []
        n_total = 0
        for root, dirs, files in os.walk(sf_dir):
            dirs.sort()
            for f in sorted(files):
                n_total += 1
                if len(acc) < max_files:
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    acc.append(
                        (os.path.relpath(p, sf_dir), st.st_size, st.st_mtime_ns)
                    )
        acc.append(("<n_files>", n_total, 0))
        return tuple(acc)
    except OSError:
        return ("<unreadable>",)


def _input_stats(sf_dir: str) -> tuple[int, int]:
    """(total bytes, total rows) under ``sf_dir`` — rows from parquet
    footer metadata (no data pages read), non-parquet files counted
    pessimistically at size/20 rows (see the SMALL_INPUT_ROWS note).
    ONE os.walk serves both numbers (r4 review: bytes and rows previously
    each walked, and their separate signature keys walked again — 4-5
    O(#files) traversals per query call), memoized per content signature.

    Scale-safety of the failure modes: ``os.walk`` swallows scandir
    errors (yields nothing), and non-local URIs (s3a://, hdfs://) match
    no local path at all — both produce ZERO visible files, which would
    have classified as "small" (the exact misclassification this gate
    exists to prevent). A dataset with no visible files therefore
    reports (2⁶², 2⁶²): every legitimate local sf_dir contains at least
    its parquet files, and an unreadable/remote one must run the LARGE
    profile, which is always safe, merely less locally tuned."""
    key = (sf_dir, _dir_signature(sf_dir))
    st = _DIR_BYTES.get(key)
    if st is None:
        import pyarrow.parquet as pq

        b = n = n_files = 0
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                p = os.path.join(root, f)
                try:
                    b += os.path.getsize(p)
                except OSError:
                    continue
                n_files += 1
                if f.startswith(("_", ".")):
                    continue  # _SUCCESS / hidden markers: bytes, no rows
                try:
                    n += pq.ParquetFile(p).metadata.num_rows
                except Exception:
                    n += os.path.getsize(p) // 20
        if n_files == 0:
            b = n = 1 << 62  # unreadable/remote/empty → assume large
        else:
            # Text corpora EXPAND under the token/shingle-index operators:
            # every text byte becomes ~tokens × postings-join state, so a
            # 134 MB documents table behaves like a multi-GB relational
            # input (r5: the ×100 doc sweep point hit AGGREGATE_OUT_OF_
            # MEMORY under the small profile's 8 reducers). Weight the
            # documents table's bytes by the tokenization factor when
            # computing effective input size; on the provided sf dirs the
            # table is ~1 % of bytes, so classification there is
            # unchanged.
            for root, _dirs, files in os.walk(sf_dir):
                for f in files:
                    if f == "documents.parquet" or (
                        f.endswith(".parquet")
                        and os.path.basename(root) == "documents.parquet"
                    ):
                        try:
                            b += (TEXT_EXPANSION - 1) * os.path.getsize(
                                os.path.join(root, f)
                            )
                        except OSError:
                            pass
        # Drop stale entries for this path (dataset regenerated in place).
        for k in [k for k in _DIR_BYTES if k[0] == sf_dir]:
            del _DIR_BYTES[k]
        st = _DIR_BYTES[key] = (b, n)
    return st


def _input_bytes(sf_dir: str) -> int:
    return _input_stats(sf_dir)[0]


def _input_rows(sf_dir: str) -> int:
    return _input_stats(sf_dir)[1]


def is_small_input(sf_dir: str) -> bool:
    """True when ``sf_dir`` is below the SMALL_INPUT_BYTES threshold.

    Queries use this to pick ALGORITHMS, not just confs: the large profile
    swaps exact-but-unbounded-state forms for their mergeable/capped scale
    twins (exact median → approx_percentile in q_agg_outlier_mad; full
    inverted index → DF-capped index in q_dedup_near_jaccard). Small
    requires BOTH the bytes bound and the exact footer row-count bound
    (the int64 overflow proof — see SMALL_INPUT_ROWS). Reads the module
    constants at call time so tests can force the large profile.
    """
    b, n = _input_stats(sf_dir)
    return b < SMALL_INPUT_BYTES and n < SMALL_INPUT_ROWS


def tune_for_input(spark: SparkSession, sf_dir: str) -> None:
    """Set size-dependent confs for a query over ``sf_dir``.

    Small inputs: AQE off (no per-stage driver re-planning) and few shuffle
    partitions — at megabyte scale the fixed cost of extra query stages and
    tiny tasks dominates wall clock. Large inputs: AQE on with the default
    partition count, where runtime coalescing/skew-splitting pays for
    itself. Runtime-settable, so it works on driver-owned sessions too.
    """
    small = is_small_input(sf_dir)
    # Partition count stays a 2-level switch (8 small / 32 large): a
    # controlled in-process sweep of {8,16,32} at the ×10 and ×20 bench
    # points showed the knob is BELOW the run-to-run noise floor (a
    # repeated parts=8 lap beat the parts=32 lap that had just beaten the
    # first parts=8 lap) — same conclusion as BASELINE.md's row-group ×
    # partitions sweep. Graduating it by row count adds plan churn for
    # no measurable win at local scale; on a real cluster
    # cluster_confs() sizes partitions from input bytes instead.
    want = {
        "spark.sql.adaptive.enabled": "false" if small else "true",
        "spark.sql.shuffle.partitions": (
            "8" if small else RUNTIME_CONFS["spark.sql.shuffle.partitions"]
        ),
    }
    for k, v in want.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass


def configure(spark: SparkSession) -> SparkSession:
    """Idempotently apply the engine's runtime confs to ``spark``.

    Fast path: one sentinel conf probe instead of ~12 py4j round trips —
    configure() runs at the top of every registered query, so its cost is
    per-query driver overhead.
    """
    try:
        if spark.conf.get("spark.ccs.configured", None) == "true":
            return spark
    except Exception:
        pass
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable on some builds — plans still correct,
            # only tuning differs.
            pass
    try:
        spark.conf.set("spark.ccs.configured", "true")
    except Exception:
        pass
    return spark


def cluster_confs(input_bytes: int, executors: int = 1000,
                  cores_per_executor: int = 4) -> dict[str, str]:
    """Recommended launch-time confs for a real cluster run at ``input_bytes``
    scale — the 100 TB deployment profile the local engine is designed
    against. Not applied in local mode (local tests use RUNTIME_CONFS +
    tune_for_input); surfaced as data so a deployer (or spark-submit
    wrapper) can feed them to --conf. Rationale per key inline.
    """
    # ~128 MB of input per task: the split size that keeps scan tasks
    # short-lived but amortizes open/schedule cost; at 100 TB this yields
    # ~800k scan tasks across 4k cores ≈ 200 waves — fine-grained enough
    # for stragglers/AQE, coarse enough for the scheduler.
    target_partition = 128 << 20
    # Shuffle partitions sized so a post-shuffle partition ≈ 200 MB
    # pre-compression; AQE coalesces below this, splits skew above it.
    shuffle_parts = max(64, min(200_000, input_bytes // (200 << 20)))
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(target_partition),
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        # Dims up to 64 MB broadcast (executor memory is GBs at this size).
        "spark.sql.autoBroadcastJoinThreshold": str(64 << 20),
        # Off-heap shuffle/agg state: predictable executor memory under
        # spill-heavy aggs; Tungsten pages off-heap avoid GC churn.
        "spark.memory.offHeap.enabled": "true",
        "spark.memory.offHeap.size": str(4 << 30),
        # Nanos-timestamp + NTZ parity with the local profile.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
    }


def _default_driver_mem() -> str:
    """min(48g, ~40 % of host MemTotal), floor 2g — see get_session()."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(48, (total_gb * 2) // 5))}g"
    except OSError:
        pass
    return "8g"


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` compile histogram; a codegen-cache hit compiles
    nothing). JVM-wide, so take differences around the work measured."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(codegen.METRIC_COMPILATION_TIME().getCount())


def get_session(app_name: str = "cuny_courses_spark") -> SparkSession:
    """Engine-owned local session for tests/bench (local[N], AQE, Arrow)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Heap sized from detected host RAM (r5 ADVICE: a hardcoded 48g
        # assumed the 128 GiB bench host and could swap/OOM-kill smaller
        # machines): min(48g, ~40 % of MemTotal), floor 2g. local[32]
        # shares ONE JVM's unified memory across 32 concurrent tasks —
        # 8g starved wide aggregations (r5: the ×100 shingle-index sweep
        # point hit AGGREGATE_OUT_OF_MEMORY at ~250 MB/task). On a real
        # cluster the equivalent knob is executor memory via
        # cluster_confs(). SPARK_DRIVER_MEM stays the override.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Reclaim RELIABLE checkpoint dirs (SPARK_GRAFT_RELIABLE_CKPT_DIR
        # pagerank path) when their RDDs are GC'd — without this, each
        # superstep's checkpoint leaks on disk for the life of a
        # long-running session (r9 ADVICE). Context-creation-time only.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return configure(spark)
