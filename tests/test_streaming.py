"""Stream ≡ batch equivalence (SURVEY §2 L / §5.2): every streaming twin on
a deterministic file replay must produce exactly the batch-twin frame, and
the watermark scenario must drop precisely the late-delivered day-1 rows."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from cuny_courses_spark.oracle import canon
from cuny_courses_spark.registry import queries
from cuny_courses_spark.streaming import runner
from tests.conftest import SF_DIR

_QS = queries()


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    a, b = canon(a), canon(b)
    return a.equals(b)


@pytest.fixture(scope="module")
def replay_dir():
    return runner.chronological_replay_dir(SF_DIR, n_files=4)


def _stream_result(spark, replay_dir, transform, output_mode="complete"):
    src = runner.read_stream(spark, replay_dir)
    return runner.run_to_memory(transform(src), output_mode=output_mode).toPandas()


def test_stream_tumbling_equals_batch(spark, replay_dir):
    def agg(src):
        return (
            src.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "n",
            )
        )

    got = _stream_result(spark, replay_dir, agg)
    want = (
        _QS["q_stream_tumbling"](spark, SF_DIR)
        .select("window_start", "event_type", "n")
        .toPandas()
    )
    assert _frames_equal(got, want)


def test_stream_sliding_equals_batch(spark, replay_dir):
    def agg(src):
        return (
            src.groupBy(F.window("ts", "10 minutes", "5 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "n",
            )
        )

    got = _stream_result(spark, replay_dir, agg)
    want = _QS["q_stream_sliding"](spark, SF_DIR).toPandas()
    assert _frames_equal(got, want)


def test_stream_session_equals_batch(spark, replay_dir):
    def agg(src):
        return (
            src.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("t0"),
                F.max("ts").alias("t1"),
            )
            .select(
                "user_id",
                F.date_format("t0", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
                "n_events",
                (F.unix_micros("t1") - F.unix_micros("t0")).alias("span_us"),
            )
        )

    got = _stream_result(spark, replay_dir, agg)
    want = _QS["q_stream_session"](spark, SF_DIR).toPandas()
    assert _frames_equal(got, want)


def test_stream_session_scale_lap_runs(spark):
    # The bench's stateful scale lap (runner.run_stream_session_scale):
    # must drain fully, leave no active query behind, and be re-runnable
    # (fresh checkpoint per call is part of its contract — a reused
    # checkpoint would silently turn the lap into a no-op).
    for _ in range(2):
        runner.run_stream_session_scale(spark, SF_DIR, n_files=3)
        assert not spark.streams.active


def test_stream_dedup_within_watermark(spark):
    # Replay with duplicate delivery: chunk 2 re-sends chunk 1's rows.
    t = runner._events_us(SF_DIR)
    first = t.slice(0, 200)
    dir_ = runner.write_replay_files(
        SF_DIR, "replay_dup", [first, first, t.slice(200, t.num_rows - 200)]
    )

    def dedup(src):
        # distinct aggs are unsupported on streams; after the stateful dedup
        # event_id is unique, so a plain count IS the distinct count.
        return (
            src.withWatermark("ts", "10 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_unique"))
        )

    got = _stream_result(spark, dir_, dedup)
    want = (
        _QS["q_stream_dedup_state"](spark, SF_DIR).toPandas()
    )
    assert _frames_equal(got, want)


def test_stream_stateful_count_equals_batch(spark, replay_dir):
    # Arbitrary per-key state via update-mode aggregation (state = one
    # (count,) per user); complete mode gives the final state table.
    def agg(src):
        return src.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))

    got = _stream_result(spark, replay_dir, agg)
    want = (
        _QS["q_stream_stateful_count"](spark, SF_DIR)
        .select("user_id", "n_events")
        .toPandas()
    )
    assert _frames_equal(got, want)


def test_apply_in_pandas_with_state_equals_batch(spark, replay_dir):
    # TRUE arbitrary-state operator (applyInPandasWithState; the newer
    # transformWithStateInPandas API needs protobuf, absent here): one
    # (count, sum) state per user, emitting running totals every
    # micro-batch; the LAST emission per user must equal the batch groupBy.
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def running_agg(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    def stateful(src):
        return (
            src.select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                running_agg,
                outputStructType="user_id long, n_events long, sum_value double",
                stateStructType="n long, s double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    got = _stream_result(spark, replay_dir, stateful, output_mode="update")
    # keep the final (largest n_events) emission per user
    got = (
        got.sort_values(["user_id", "n_events"])
        .groupby("user_id", as_index=False)
        .last()
    )
    want = _QS["q_stream_stateful_count"](spark, SF_DIR).toPandas()
    got["sum_value"] = got["sum_value"].round(4)
    assert _frames_equal(got[["user_id", "n_events", "sum_value"]], want)


def test_stream_stream_interval_join_equals_batch(spark, replay_dir):
    # Stream-stream inner join with an event-time range condition: same-user
    # pairs within [ts, ts+5min). Both sides watermarked; with AvailableNow
    # over bounded replay the emitted matches must equal the batch join
    # (q_join_range_interval's pair counts).
    a = (
        runner.read_stream(spark, replay_dir)
        .select("user_id", F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts"))
        .withWatermark("a_ts", "10 days")
    )
    b = (
        runner.read_stream(spark, replay_dir)
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("b_id"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "10 days")
    )
    joined = a.join(
        b,
        (a.user_id == b.b_user)
        & (a.a_id < b.b_id)
        & (b.b_ts >= a.a_ts)
        & (b.b_ts < a.a_ts + F.expr("INTERVAL 5 MINUTE")),
    ).select("user_id", "a_id", "b_id")
    got = runner.run_to_memory(joined, output_mode="append").toPandas()
    got = (
        got.groupby("user_id", as_index=False)
        .size()
        .rename(columns={"size": "n_pairs"})
    )
    want = _QS["q_join_range_interval"](spark, SF_DIR).toPandas()
    assert _frames_equal(got, want)


def test_watermark_drops_late_day1(spark):
    res = _QS["q_stream_watermark_late"](spark, SF_DIR).toPandas()
    assert len(res) > 0
    # day-1 windows must be absent: their rows arrived only in the late batch
    assert not (res["window_start"] < "2024-01-02").any(), res[
        res["window_start"] < "2024-01-02"
    ]
    # on-time hours (well inside the stream) must be present and correct
    batch = (
        _QS["q_stream_tumbling"](spark, SF_DIR)
        .filter(
            (F.col("window_start") >= "2024-01-02")
            & (F.col("window_start") < "2024-01-30")
        )
        .select("window_start", "event_type", "n")
        .toPandas()
    )
    merged = res.merge(
        batch, on=["window_start", "event_type"], suffixes=("_s", "_b")
    )
    assert (merged["n_s"] == merged["n_b"]).all()


def test_foreach_batch_idempotent_sink(spark, replay_dir):
    # The production sink pattern: foreachBatch writes each micro-batch to a
    # batch-id-named parquet dir (idempotent on replay — re-processing a
    # batch overwrites the same path instead of duplicating). The union of
    # all batch outputs must equal the batch-mode aggregate of the input.
    import shutil
    import tempfile
    from pathlib import Path

    out = Path(tempfile.gettempdir()) / "ccs_io" / "feb_sink"
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)

    def sink_batch(df, batch_id):
        # overwrite per batch id => exactly-once effect on replay
        df.write.mode("overwrite").parquet(str(out / f"batch={batch_id}"))

    src = runner.read_stream(spark, replay_dir).select(
        "event_id", "user_id", "value"
    )
    q = (
        src.writeStream.foreachBatch(sink_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    written = spark.read.option("basePath", str(out)).parquet(str(out))
    want = _QS["q_stream_stateful_count"](spark, SF_DIR).toPandas()
    got = (
        written.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,6)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .toPandas()
    )
    assert _frames_equal(got, want[["user_id", "n_events", "sum_value"]])


def test_stream_static_join_equals_batch(spark, replay_dir):
    # Stream-static enrichment: streaming events joined to the static
    # customer dim must equal the batch twin exactly.
    from cuny_courses_spark.sources.loaders import load

    c = load(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")

    def enrich(src):
        return (
            src.join(c, src.user_id == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(30,6)")).cast("double"), 4
                ).alias("sum_value"),
            )
        )

    got = _stream_result(spark, replay_dir, enrich)
    want = _QS["q_stream_static_join"](spark, SF_DIR).toPandas()
    assert _frames_equal(got, want)


def test_stream_topk_windowed_equals_batch(spark, replay_dir):
    # Two-stage leaderboard: the WINDOWED COUNT is the real streaming
    # stateful aggregation (complete mode over file replay); the top-3
    # rank then runs on the compacted per-window rows exactly as the
    # foreachBatch sink would — asserting the composed result equals the
    # registered batch twin end to end.
    def agg(src):
        return (
            src.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "n",
            )
        )

    counts = _stream_result(spark, replay_dir, agg)
    counts = counts.sort_values(
        ["window_start", "n", "event_type"],
        ascending=[True, False, True],
        kind="mergesort",
    )
    counts["rk"] = counts.groupby("window_start").cumcount() + 1
    got = counts[counts["rk"] <= 3].reset_index(drop=True)
    want = _QS["q_stream_topk_windowed"](spark, SF_DIR).toPandas()
    assert _frames_equal(got, want)


def test_stream_stream_outer_join_nulls_and_matches(spark):
    """The left-outer interval join (q_stream_stream_outer) emits (1)
    exactly the batch interval join's matches and (2) a NON-EMPTY set of
    watermark-released null rows equal to the replay expectation:
    unmatched clicks whose horizon (c_ts + 1 h) closed under the final
    join watermark min(max click, max purchase) − 2 h. Non-vacuousness
    matters: a job that never releases null rows would pass a
    matches-only check."""
    got = runner.run_stream_stream_outer_join(spark, SF_DIR).toPandas()

    from cuny_courses_spark.sources.loaders import load

    e = load(spark, SF_DIR, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (c.user_id == p.p_user)
        & (p.p_ts >= c.c_ts)
        & (p.p_ts < c.c_ts + F.expr("INTERVAL 1 HOUR"))
    )
    matched = c.join(p, cond).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )
    wm = c.agg(F.max("c_ts").alias("mc")).crossJoin(
        p.agg(F.max("p_ts").alias("mp"))
    ).select(
        (F.least("mc", "mp") - F.expr("INTERVAL 2 HOURS")).alias("w")
    ).collect()[0]["w"]
    unmatched = (
        c.join(p, cond, "left_anti")
        .filter(F.col("c_ts") + F.expr("INTERVAL 1 HOUR") <= F.lit(wm))
        .select(
            "user_id",
            "click_id",
            F.lit(None).cast("long").alias("purchase_id"),
            F.lit(None).cast("long").alias("lag_us"),
        )
    )
    want = matched.unionByName(unmatched).toPandas()
    n_nulls = int(got["purchase_id"].isna().sum())
    assert n_nulls > 0, "no watermark-released null rows — vacuous outer join"
    assert _frames_equal(got, want)


def test_session_timeout_timers_fire_and_withhold(spark):
    """q_stream_session_timeout emits (1) every gap-closed interior
    session, (2) exactly the trailing sessions whose t1 + 30 min timer
    (ms-truncated) sits strictly below the final watermark max(ts) − 1 h,
    and (3) WITHHOLDS trailing sessions still inside the horizon — both
    the timer-fired and the withheld sets must be non-empty, else the
    timer path is vacuous (a job that emits everything, or nothing, on
    stream end would pass a weaker check)."""
    got = runner.run_session_timeout(spark, SF_DIR).toPandas()

    from cuny_courses_spark.sources.loaders import load
    from pyspark.sql import Window

    e = load(spark, SF_DIR, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    sess = (
        e.withColumn(
            "new_sess",
            F.when(
                gap.isNull() | (gap >= 30 * 60 * 1_000_000), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    wm_ms = (
        e.agg((F.max(F.unix_micros("ts")) / 1000).cast("long")).collect()[0][0]
        - 3_600_000
    )
    last = Window.partitionBy("user_id")
    marked = sess.withColumn("last_sid", F.max("sess_id").over(last))
    want_df = marked.filter(
        (F.col("sess_id") < F.col("last_sid"))
        | ((F.unix_micros("t1") / 1000).cast("long") + 1_800_000 < wm_ms)
    ).select(
        "user_id",
        F.date_format("t0", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
        "n_events",
        (F.unix_micros("t1") - F.unix_micros("t0")).alias("span_us"),
    )
    want = want_df.toPandas()
    n_total = sess.count()
    n_timer_fired = marked.filter(
        (F.col("sess_id") == F.col("last_sid"))
        & ((F.unix_micros("t1") / 1000).cast("long") + 1_800_000 < wm_ms)
    ).count()
    n_withheld = n_total - len(want)
    assert n_timer_fired > 0, "no timer-fired trailing sessions — vacuous"
    assert n_withheld > 0, "no withheld open sessions — watermark ignored"
    assert _frames_equal(got, want)


def test_stream_stream_full_outer_both_null_sets(spark):
    """The full-outer interval join emits the batch matches plus BOTH
    non-empty null sets: horizon-closed unmatched clicks (null purchase
    columns) and watermark-passed unmatched purchases (null click
    columns) — asymmetric release rules per side (c_ts + 1 h vs p_ts)."""
    got = runner.run_stream_stream_full_outer_join(spark, SF_DIR).toPandas()

    from cuny_courses_spark.sources.loaders import load

    e = load(spark, SF_DIR, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (c.c_user == p.p_user)
        & (p.p_ts >= c.c_ts)
        & (p.p_ts < c.c_ts + F.expr("INTERVAL 1 HOUR"))
    )
    matched = c.join(p, cond).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )
    wm = (
        c.agg(F.max("c_ts").alias("mc"))
        .crossJoin(p.agg(F.max("p_ts").alias("mp")))
        .select((F.least("mc", "mp") - F.expr("INTERVAL 2 HOURS")).alias("w"))
        .collect()[0]["w"]
    )
    un_c = (
        c.join(p, cond, "left_anti")
        .filter(F.col("c_ts") + F.expr("INTERVAL 1 HOUR") <= F.lit(wm))
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            F.lit(None).cast("long").alias("purchase_id"),
            F.lit(None).cast("long").alias("lag_us"),
        )
    )
    un_p = (
        p.join(c, cond, "left_anti")
        .filter(F.col("p_ts") <= F.lit(wm))
        .select(
            F.col("p_user").alias("user_id"),
            F.lit(None).cast("long").alias("click_id"),
            "purchase_id",
            F.lit(None).cast("long").alias("lag_us"),
        )
    )
    want = matched.unionByName(un_c).unionByName(un_p).toPandas()
    assert int(got["purchase_id"].isna().sum()) > 0, "no unmatched clicks"
    assert int(got["click_id"].isna().sum()) > 0, "no unmatched purchases"
    assert _frames_equal(got, want)


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas's state client needs google.protobuf"
    " (absent in this container; installs pinned off)",
)
def test_session_timeout_tws_equals_apply_in_pandas_twin(spark):
    """r13: the transformWithStateInPandas port must emit exactly the
    applyInPandasWithState twin's rows (same replay, same semantics)."""
    from cuny_courses_spark.registry import queries
    from cuny_courses_spark.streaming.batch_twins import (
        stream_session_timeout_tws,
    )
    from tests.conftest import SF_DIR

    ref = sorted(
        tuple(r)
        for r in queries()["q_stream_session_timeout"](spark, SF_DIR).collect()
    )
    tws = sorted(
        tuple(r) for r in stream_session_timeout_tws(spark, SF_DIR).collect()
    )
    assert tws == ref


def test_lakefeed_restart_resumes_from_checkpoint(spark, tmp_path):
    """r13 lakefeed: a second readStream run over the SAME checkpoint
    must resume at the committed version cursor — the four commits land
    in the sink exactly once across the restart (two runs, no overlap,
    no gap)."""
    import json
    import os
    import time

    from pyspark.sql import functions as F

    from cuny_courses_spark.operators import lakehouse as lh
    from cuny_courses_spark.sources.lakefeed import ensure_registered
    from cuny_courses_spark.sources.loaders import load
    from tests.conftest import SF_DIR

    table_dir = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    src = load(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
    )
    lh.snapshot_write(src.filter(F.col("k") % 4 == 0), table_dir, key="k")
    lh.append_snapshot(
        table_dir, 1, src.filter(F.col("k") % 4 == 1), key="k", batch_id=1
    )

    ensure_registered(spark)
    out_dir = str(tmp_path / "sink")

    def _drain_to(head: int) -> None:
        feed = (
            spark.readStream.format("lakefeed")
            .option("table_dir", table_dir)
            .option("key", "k")
            .load()
        )
        # memory sink cannot recover from a checkpoint — the restart
        # test needs the fault-tolerant parquet file sink
        q = (
            feed.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            from cuny_courses_spark.streaming.offsets import (
                committed_batch_reached,
            )

            def done() -> bool:
                return committed_batch_reached(ckpt, "version", head)

            deadline = time.time() + 120
            while time.time() < deadline and not done():
                time.sleep(0.2)
            assert done(), "stream never drained to head"
        finally:
            q.stop()
            q.awaitTermination()

    _drain_to(2)  # run 1: v1 snapshot + v2 append
    # table grows while the consumer is OFFLINE
    lh.append_snapshot(
        table_dir, 2, src.filter(F.col("k") % 4 == 2), key="k", batch_id=2
    )
    lh.append_snapshot(
        table_dir, 3, src.filter(F.col("k") % 4 == 3), key="k", batch_id=3
    )
    _drain_to(4)  # run 2: resumes at v2 cursor, consumes v3+v4 only

    sink = spark.read.parquet(out_dir)
    # exactly once across the restart: every source row appears exactly
    # once as an insert, nothing twice, nothing missing
    assert sink.groupBy("k").count().filter("count > 1").count() == 0
    assert sink.count() == src.count()
    assert set(
        r["_commit_version"]
        for r in sink.select("_commit_version").distinct().collect()
    ) == {1, 2, 3, 4}


def _mini_lake(spark, tmp_path, versions: int = 2):
    """A small k/st lakehouse table with ``versions`` commits (v1 is the
    snapshot, v2.. are appends of 10 rows each)."""
    from pyspark.sql import functions as F

    from cuny_courses_spark.operators import lakehouse as lh

    table_dir = str(tmp_path / "minilake")
    base = spark.range(10).select(
        F.col("id").alias("k"), F.lit("v1").alias("st")
    )
    lh.snapshot_write(base, table_dir, key="k")
    for v in range(2, versions + 1):
        rows = spark.range(10).select(
            (F.col("id") + 10 * (v - 1)).alias("k"),
            F.lit(f"v{v}").alias("st"),
        )
        lh.append_snapshot(table_dir, v - 1, rows, key="k", batch_id=v)
    return table_dir


def test_lakefeed_capped_restart_replays_nothing(spark, tmp_path):
    """r15 (r14 advice, HIGH): a RESTARTED capped reader (Spark replays
    the cursor from its checkpoint; latestOffset is asked BEFORE the
    reader can learn the cursor) answers min(start + cap, head) — which
    may sit below the committed cursor. The r14 code then re-emitted
    versions ≤ the cursor on subsequent triggers, breaking exactly-once.
    Now the delivered floor learned from the first partitions() call
    makes the regressed batch emit ZERO rows, and every later trigger
    resumes forward from the cursor — this test walks the exact Spark
    call sequence of a restart-after-commit."""
    from cuny_courses_spark.operators import lakehouse as lh
    from cuny_courses_spark.sources import lakefeed as lf

    table_dir = _mini_lake(spark, tmp_path, versions=5)
    rdr = lf._LakeFeedStreamReader(
        {"table_dir": table_dir, "key": "k", "maxVersionsPerTrigger": "1"},
        ["k", "st"],
    )
    # restart: initialOffset is NOT called; the committed cursor (in
    # Spark's checkpoint, invisible to the reader) is version 3
    off = rdr.latestOffset()  # capped answer, regressed below cursor
    assert off == {"version": 1}
    # Spark plans (cursor, regressed] — MUST deliver zero rows
    assert lf.feed_rows(rdr, rdr.partitions({"version": 3}, off)) == []
    # forward progress resumes from the revealed cursor, still capped:
    # each trigger advances exactly one version and never re-emits ≤ 3
    seen: set[int] = set()
    startv = 1  # the poisoned log's latest end becomes the next start
    for _ in range(4):
        nxt = rdr.latestOffset()
        rows = lf.feed_rows(
            rdr, rdr.partitions({"version": startv}, nxt)
        )
        seen |= {r[3] for r in rows}
        startv = nxt["version"]
    assert seen == {4, 5}  # versions 1..3 never replayed, none skipped


def test_lakefeed_floor_suppresses_regressed_spans(spark, tmp_path):
    """Defense in depth for the same advice item: if a regressed end
    offset ever ENTERS the checkpoint log (planned as a batch), the
    overlapping spans must emit ZERO rows — versions at or below the
    delivered floor are never re-emitted, and forward progress resumes
    above the floor."""
    from cuny_courses_spark.sources import lakefeed as lf

    table_dir = _mini_lake(spark, tmp_path, versions=5)
    rdr = lf._LakeFeedStreamReader(
        {"table_dir": table_dir, "key": "k", "maxVersionsPerTrigger": "2"},
        ["k", "st"],
    )
    # a batch planned with a regressed end (start=3 from the checkpoint,
    # end=1 from a pre-fix latestOffset): nothing may be emitted
    assert lf.feed_rows(rdr, rdr.partitions({"version": 3}, {"version": 1})) == []
    # the poisoned log hands the NEXT batch start=1 — the floor (3)
    # suppresses the already-delivered versions 2..3, emits only 4..5
    rows = lf.feed_rows(rdr, rdr.partitions({"version": 1}, {"version": 5}))
    assert {r[3] for r in rows} == {4, 5}
    # and latestOffset never dips below the floor again
    assert rdr.latestOffset()["version"] >= 5


def test_lakefeed_bytes_budget_admission(spark, tmp_path):
    """r15 (r14 verdict missing #5): maxBytesPerTrigger admits whole
    versions until the changed-file bytes exceed the budget — a fat
    commit larger than the budget lands ALONE (never stalls), small
    commits group, and the maxVersions cap composes."""
    import os

    from pyspark.sql import functions as F

    from cuny_courses_spark.operators import lakehouse as lh
    from cuny_courses_spark.sources import lakefeed as lf

    table_dir = str(tmp_path / "lake")
    small = spark.range(2).select(F.col("id").alias("k"), F.lit("s").alias("st"))
    fat = spark.range(5000).select(
        (F.col("id") + 100).alias("k"), F.lit("f").alias("st")
    )
    lh.snapshot_write(small, table_dir, key="k")  # v1 tiny
    lh.append_snapshot(table_dir, 1, fat, key="k", batch_id=2)  # v2 FAT
    lh.append_snapshot(
        table_dir, 2, small.select((F.col("k") + 10).alias("k"), "st"),
        key="k", batch_id=3,
    )  # v3 tiny
    lh.append_snapshot(
        table_dir, 3, small.select((F.col("k") + 20).alias("k"), "st"),
        key="k", batch_id=4,
    )  # v4 tiny
    d1 = set(lf._resolve(table_dir, 1)["files"])
    d2 = lf._resolve(table_dir, 2)["files"]
    fat_bytes = sum(os.path.getsize(p) for p in set(d2) - d1)

    def _reader(**opts):
        r = lf._LakeFeedStreamReader(
            {"table_dir": table_dir, "key": "k", **opts}, ["k", "st"]
        )
        r.initialOffset()
        return r

    # budget just under the fat commit: [v1], [v2 alone], [v3+v4]
    r = _reader(maxBytesPerTrigger=str(fat_bytes - 1))
    assert [r.latestOffset()["version"] for _ in range(3)] == [1, 2, 4]
    # budget below even the tiny commits: one version per trigger (the
    # at-least-one rule — an over-budget version never stalls)
    r = _reader(maxBytesPerTrigger="1")
    assert [r.latestOffset()["version"] for _ in range(4)] == [1, 2, 3, 4]
    # a huge budget drains everything in one trigger
    r = _reader(maxBytesPerTrigger=str(10 * fat_bytes))
    assert r.latestOffset()["version"] == 4
    # maxVersionsPerTrigger composes as a second cap
    r = _reader(
        maxBytesPerTrigger=str(10 * fat_bytes), maxVersionsPerTrigger="1"
    )
    assert [r.latestOffset()["version"] for _ in range(2)] == [1, 2]


def test_lakefeed_capped_stream_restart_exactly_once(spark, tmp_path):
    """r15 (the advice item's done-criterion): stop/resume a
    maxVersionsPerTrigger=1 stream whose last batch was COMMITTED; the
    resumed run must deliver only the new versions — no duplicates, no
    gaps — through a REAL restarted query over the same checkpoint."""
    import time

    from pyspark.sql import functions as F

    from cuny_courses_spark.operators import lakehouse as lh
    from cuny_courses_spark.sources.lakefeed import ensure_registered
    from cuny_courses_spark.streaming.offsets import committed_batch_reached

    table_dir = _mini_lake(spark, tmp_path, versions=2)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "sink")
    ensure_registered(spark)

    def _drain_to(head: int) -> None:
        q = (
            spark.readStream.format("lakefeed")
            .option("table_dir", table_dir)
            .option("key", "k")
            .option("maxVersionsPerTrigger", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and not committed_batch_reached(
                ckpt, "version", head
            ):
                time.sleep(0.2)
            assert committed_batch_reached(ckpt, "version", head)
        finally:
            q.stop()
            q.awaitTermination()

    _drain_to(2)  # run 1 commits its final batch, then stops
    for v in (3, 4):  # the table grows while the consumer is offline
        lh.append_snapshot(
            table_dir,
            v - 1,
            spark.range(5).select(
                (F.col("id") + 100 * v).alias("k"), F.lit("x").alias("st")
            ),
            key="k",
            batch_id=v,
        )
    _drain_to(4)  # run 2: the capped reader must resume, not regress

    sink = spark.read.parquet(out_dir)
    assert sink.groupBy("k").count().filter("count > 1").count() == 0
    assert sink.count() == 30  # 10+10 from v1-2, 5+5 from v3-4
    assert {
        r["_commit_version"]
        for r in sink.select("_commit_version").distinct().collect()
    } == {1, 2, 3, 4}


def test_lakefeed_available_now_drains_fully(spark, tmp_path):
    """r14: the source defaults to drain-all-available rate control
    (Delta/Kafka contract) — so ``trigger(availableNow=True)`` captures
    the TRUE head in its one latestOffset call, processes every commit,
    and terminates. Under the old one-version-per-trigger default this
    silently under-drained (only v1 arrived)."""
    from pyspark.sql import functions as F

    from cuny_courses_spark.operators import lakehouse as lh
    from cuny_courses_spark.sources.lakefeed import ensure_registered
    from cuny_courses_spark.sources.loaders import load
    from tests.conftest import SF_DIR

    table_dir = str(tmp_path / "lake")
    src = load(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("st")
    )
    lh.snapshot_write(src.filter(F.col("k") % 3 == 0), table_dir, key="k")
    lh.append_snapshot(
        table_dir, 1, src.filter(F.col("k") % 3 == 1), key="k", batch_id=1
    )
    lh.append_snapshot(
        table_dir, 2, src.filter(F.col("k") % 3 == 2), key="k", batch_id=2
    )
    ensure_registered(spark)
    name = "an_full_drain"
    q = (
        spark.readStream.format("lakefeed")
        .option("table_dir", table_dir)
        .option("key", "k")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query must terminate"
    sink = spark.table(name)
    assert sink.count() == src.count()  # ALL three commits arrived
    assert {
        r["_commit_version"]
        for r in sink.select("_commit_version").distinct().collect()
    } == {1, 2, 3}


def test_lakefeed_available_now_through_native_sink(spark, tmp_path):
    """r14: the one-shot mirror job — readStream(lakefeed) →
    writeStream(lakefeed) under trigger(availableNow=True) — drains the
    whole source history, commits it through the connector, terminates,
    and a SECOND one-shot run (fresh checkpoint, same sink_id) is fully
    idempotent: the rerun redelivers everything and the stamps skip it."""
    from pyspark.sql import functions as F

    from cuny_courses_spark.operators import lakehouse as lh
    from cuny_courses_spark.sources.lakefeed import ensure_registered
    from cuny_courses_spark.sources.loaders import load
    from tests.conftest import SF_DIR

    src_dir = str(tmp_path / "src")
    mir_dir = str(tmp_path / "mirror")
    src = load(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("st")
    )
    lh.snapshot_write(src.filter(F.col("k") % 3 == 0), src_dir, key="k")
    lh.append_snapshot(
        src_dir, 1, src.filter(F.col("k") % 3 != 0), key="k", batch_id=1
    )
    ensure_registered(spark)

    def _one_shot(ckpt: str) -> None:
        q = (
            spark.readStream.format("lakefeed")
            .option("table_dir", src_dir)
            .option("key", "k")
            .load()
            .writeStream.format("lakefeed")
            .option("table_dir", mir_dir)
            .option("key", "k")
            # pinned EXPLICITLY: the default sink id is derived from the
            # checkpoint location (r15), so replay detection across a
            # FRESH checkpoint needs a user-owned id — Delta's txnAppId
            .option("sinkId", "an_mirror_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "one-shot mirror must terminate"

    _one_shot("ckpt1")
    v1 = lh.latest_version(mir_dir)
    n1 = lh.snapshot_read(spark, mir_dir).count()
    assert n1 == src.count()  # both commits drained in the one shot
    _one_shot("ckpt2")  # full redelivery from a fresh checkpoint
    assert lh.latest_version(mir_dir) == v1  # stamps skipped everything
    assert lh.snapshot_read(spark, mir_dir).count() == n1


def test_upsert_sink_applies_coalesced_net_batch(spark, tmp_path):
    """r15: the cdcApply upsert sink composes with coalesceCatchup — a
    cold-start consumer's ONE net-change batch (keys unique by
    construction: intermediate states cancel) mirrors the source head
    in a single snapshot, value-equal to the source."""
    from pyspark.sql import functions as F

    from cuny_courses_spark.operators import lakehouse as lh
    from cuny_courses_spark.sources.lakefeed import ensure_registered

    src_dir = str(tmp_path / "src")
    mir_dir = str(tmp_path / "mirror")
    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("cents")
    )
    lh.snapshot_write(base.filter(F.col("k") < 30), src_dir, key="k")
    lh.append_snapshot(
        src_dir, 1, base.filter(F.col("k") >= 30), key="k", batch_id=1
    )
    upd = base.filter(F.col("k") % 7 == 0).select(
        "k", (F.col("cents") * 2).alias("cents"), F.lit(False).alias("_del")
    )
    dels = base.filter(F.col("k") % 11 == 3).select(
        "k", F.lit(None).cast("long").alias("cents"),
        F.lit(True).alias("_del"),
    )
    lh.merge_upsert(
        spark, src_dir, 2, upd.unionByName(dels), key="k", delete_col="_del"
    )
    ensure_registered(spark)
    q = (
        spark.readStream.format("lakefeed")
        .option("table_dir", src_dir)
        .option("key", "k")
        .option("coalesceCatchup", "true")
        .load()
        .writeStream.format("lakefeed")
        .option("table_dir", mir_dir)
        .option("key", "k")
        .option("mode", "upsert")
        .option("cdcApply", "true")
        .option("sinkId", "coalesced_mirror")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert lh.latest_version(mir_dir) == 1  # ONE net snapshot
    mir = {
        r["k"]: r["cents"]
        for r in lh.snapshot_read(spark, mir_dir).collect()
    }
    src = {
        r["k"]: r["cents"]
        for r in lh.snapshot_read(spark, src_dir).collect()
    }
    assert mir == src  # value-equal to the source head


def test_lakefeed_workers_get_lakeformat_by_value(tmp_path):
    """The streaming runner and executors unpickle the lakefeed source
    where the package is not importable, so every function it calls,
    lakeformat's protocol functions included, must travel by value.
    Running from the repo root hides a by-reference pickle (the workers
    import the package from the cwd), so the query runs in a subprocess
    whose cwd is ``tmp_path`` and whose PYTHONPATH lacks the repo; only
    the driver puts the repo on ``sys.path``."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys

            sys.path.insert(0, {repo!r})
            from pyspark.sql import SparkSession

            from cuny_courses_spark.operators import lakehouse as lh
            from cuny_courses_spark.sources.lakefeed import ensure_registered

            spark = (
                SparkSession.builder.master("local[1]")
                .config("spark.driver.memory", "512m")
                .config("spark.ui.enabled", "false")
                .config("spark.sql.shuffle.partitions", "2")
                .getOrCreate()
            )
            table_dir = {str(tmp_path / "lake")!r}
            lh.snapshot_write(
                spark.range(0, 40).selectExpr("id AS k", "3 * id AS c"),
                table_dir,
                key="k",
            )
            ensure_registered(spark)
            q = (
                spark.readStream.format("lakefeed")
                .option("table_dir", table_dir)
                .option("key", "k")
                .load()
                .writeStream.format("memory")
                .queryName("byvalue")
                .outputMode("append")
                .option("checkpointLocation", {str(tmp_path / "ckpt")!r})
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300), "query did not terminate"
            print("ROWS", spark.table("byvalue").count())
            spark.stop()
            """
        )
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != os.path.realpath(repo)
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS 40" in out.stdout, out.stderr[-4000:]
