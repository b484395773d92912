"""The large-input tuning path must be correct, not just the small one.

tune_for_input (session.py) switches to AQE-on + 32 shuffle partitions
above SMALL_INPUT_BYTES — the profile every real-scale run executes — but
test data is megabytes, so nothing else in the suite ever runs that path.
Forcing it here (SMALL_INPUT_BYTES = -1) and re-checking a shuffle-heavy
query subset against the DuckDB oracle guards two things: that adaptive
re-planning (coalescing, skew-join split, SMJ→BHJ conversion) preserves
results bit-exactly, and that the switch itself actually flips at runtime
on a session mid-lifetime (a driver-owned session is tuned per query, not
per session).
"""

from __future__ import annotations

import pytest

import cuny_courses_spark.session as sess
from cuny_courses_spark.oracle import compare
from cuny_courses_spark.registry import oracles, queries
from tests.conftest import SF_DIR

_QS = queries()
_OS = oracles()

# Shuffle-heavy / AQE-sensitive representatives, one per plan family:
# partial+final agg, fact-fact join + top-k, 6-way star, window dedup,
# salted two-phase agg, inverted-index self-join, EXISTS/NOT-EXISTS
# semi+anti, set difference, sliding-window twin, grouped similarity top-k.
SCALE_SUBSET = [
    "q_agg_groupby",
    "q_limit_topk",
    "q_join_star_multiway",
    "q_win_latest_per_key",
    "q_agg_salted_skew",
    "q_dedup_near_jaccard",
    "q_sql_q21_waiting_supplier",
    "q_set_except",
    "q_stream_sliding",
    "q_sim_topk_per_query",
    # hub-capped wedge index under the large profile must stay ≡ exact on
    # the fixtures (max degree 27 << cap 4096) — the df-cap identity rule
    "q_graph_common_neighbors",
]


@pytest.fixture()
def large_profile(monkeypatch):
    # Every input now classifies as large → AQE on, 32 shuffle partitions.
    monkeypatch.setattr(sess, "SMALL_INPUT_BYTES", -1)
    # Plan cache entries built under the small profile would be reused for
    # the same (query, sf_dir); analysis is conf-independent but this test
    # must measure a build made under the large profile end to end.
    monkeypatch.setenv("SPARK_GRAFT_NO_PLAN_CACHE", "1")
    yield


@pytest.mark.parametrize("name", SCALE_SUBSET)
def test_large_profile_oracle_match(spark, duck, large_profile, name):
    df = _QS[name](spark, SF_DIR)
    # The tuner must have flipped this session to the adaptive profile.
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    sp = df.toPandas()
    du = duck.execute(_OS[name]).df()
    status, msg = compare(sp, du)
    assert status == "PASS", f"{name} under AQE profile: {status} — {msg}"


def test_profile_switches_back(spark, duck):
    # A subsequent small-input query on the SAME session must re-tune down
    # — per-query tuning, not sticky session state.
    _QS["q_agg_groupby"](spark, SF_DIR).collect()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_outlier_mad_algorithm_switch(spark, duck, large_profile):
    # Above the scale threshold the exact grouped median must SWAP for the
    # mergeable approx_percentile sketch (r2 verdict #5). The sketch at
    # accuracy 10^4 has rank error <= 1e-4; bracket each reported med/mad
    # between the exact quantiles at p -/+ 1% — same pattern as the
    # q_agg_approx_quantile tolerance test — and n must stay exact.
    df = _QS["q_agg_outlier_mad"](spark, SF_DIR).toPandas()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    exact = duck.execute(
        """
        WITH med AS (
            SELECT event_type, median(value) AS med,
                   quantile_cont(value, 0.49) AS med_lo,
                   quantile_cont(value, 0.51) AS med_hi,
                   count(*) AS n
            FROM events GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, abs(e.value - m.med) AS d
            FROM events e JOIN med m ON e.event_type = m.event_type
        )
        SELECT d.event_type, max(m.n) AS n,
               max(m.med_lo) AS med_lo, max(m.med_hi) AS med_hi,
               quantile_cont(d.d, 0.49) AS mad_lo,
               quantile_cont(d.d, 0.51) AS mad_hi
        FROM dev d JOIN med m ON d.event_type = m.event_type
        GROUP BY d.event_type
        """
    ).df().set_index("event_type")
    assert len(df) == len(exact)
    for _, r in df.iterrows():
        ex = exact.loc[r["event_type"]]
        assert ex["n"] == r["n"]
        assert ex["med_lo"] - 1e-4 <= r["med"] <= ex["med_hi"] + 1e-4, r
        # mad brackets use deviations from the APPROX median, which shifts
        # the distribution by |approx_med - exact_med| <= (med_hi - med_lo)
        slack = float(ex["med_hi"] - ex["med_lo"]) + 1e-4
        assert ex["mad_lo"] - slack <= r["mad"] <= ex["mad_hi"] + slack, r


def test_agg_stats_certificate_any_profile(spark, duck, large_profile):
    # r4 ADVICE: q_agg_stats is now a bracket certificate — median_qty is
    # the EXACT interpolated median at any profile (so the registered
    # oracle hash-matches on large corpora too), and median_in_bracket
    # certifies the GK sketch against exact quantiles at p ± 1 %.
    df = _QS["q_agg_stats"](spark, SF_DIR).toPandas()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert df["median_in_bracket"].all()
    du = duck.execute(_OS["q_agg_stats"]).df()
    status, msg = compare(df, du)
    assert status == "PASS", f"large-profile oracle match: {status} — {msg}"


def test_agg_stats_small_profile_stays_exact(spark, duck):
    sp = _QS["q_agg_stats"](spark, SF_DIR).toPandas()
    assert sp["median_in_bracket"].all()
    du = duck.execute(_OS["q_agg_stats"]).df()
    status, msg = compare(sp, du)
    assert status == "PASS", msg


def test_outlier_mad_small_profile_stays_exact(spark, duck):
    # Direction two of the switch: without the forced large profile the
    # query must still hash-match the exact-median oracle.
    from cuny_courses_spark.oracle import compare

    sp = _QS["q_agg_outlier_mad"](spark, SF_DIR).toPandas()
    du = duck.execute(_OS["q_agg_outlier_mad"]).df()
    status, msg = compare(sp, du)
    assert status == "PASS", msg


def test_scaled_docs_embeddings_decorrelate(spark):
    # r6 verdict #5: the sweep corpus roll wraps at factor >= 65 (dim 64 ->
    # replicas 63 apart share a rotation); the per-replica sign flip must
    # decorrelate same-roll replicas while preserving intra-replica
    # geometry exactly. Factor 66 on the tiny sf covers the wrap point.
    import numpy as np
    import pyarrow.parquet as pq

    import amplify

    out = amplify.scaled_docs_layout("/root/testdata/sf0.001", 66)
    assert out != "/root/testdata/sf0.001", "layout synthesis failed"
    t = pq.read_table(f"{out}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    base_n = (ids < amplify.KEY_SHIFT).sum()
    reps = {i: mat[i * base_n : (i + 1) * base_n] for i in (0, 1, 64)}
    # replica boundaries really are replicas of the same base corpus
    assert len(ids) == 66 * base_n

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    # 1 and 64 share the roll (1 + i % 63); signs must decorrelate them.
    cross = [cos(reps[1][k], reps[64][k]) for k in range(min(base_n, 50))]
    assert max(abs(c) for c in cross) < 0.9, max(cross)
    # intra-replica geometry is preserved exactly (roll + uniform sign
    # flip: (s o x) . (s o y) == x . y, bit-for-bit on these floats)
    for k in range(min(base_n - 1, 10)):
        d0 = float(reps[0][k] @ reps[0][k + 1])
        d1 = float(reps[1][k] @ reps[1][k + 1])
        assert abs(d0 - d1) < 1e-9, (k, d0, d1)


def test_neardup_lsh_band_adaptivity_recall(spark):
    # r7: neardup_lsh_pairs switches 8x8 -> 16x16 bands above 10k vectors
    # (256-bucket saturation fix). Inject known near-dup pairs into a
    # 12k-vector corpus and require the production path to recover >= 80%
    # of them under the wide-band geometry (theoretical recall ~0.96 at
    # cos 0.95).
    import numpy as np
    import pandas as pd

    from cuny_courses_spark.operators.similarity import neardup_lsh_pairs

    rng = np.random.default_rng(7)
    n, dim, n_dup = 12_000, 64, 30
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # overwrite the last n_dup vectors as near-dups of the first n_dup
    noisy = base[:n_dup] + 0.03 * rng.standard_normal((n_dup, dim))
    noisy /= np.linalg.norm(noisy, axis=1, keepdims=True)
    keep = np.array(
        [base[:n_dup][k] @ noisy[k] >= 0.9605 for k in range(n_dup)]
    )
    base[n - n_dup :] = noisy
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(base.astype(np.float32)),
        }
    )
    e = spark.createDataFrame(pdf)
    got = neardup_lsh_pairs(e).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    expected = {
        (k, n - n_dup + k) for k in range(n_dup) if keep[k]
    }
    assert len(expected) >= 10, "fixture degenerate: too few true pairs"
    hit = sum(1 for p in expected if p in pairs)
    assert hit >= 0.8 * len(expected), (hit, len(expected))


def test_lakefeed_diff_is_arrow_native_and_chunk_bounded(spark, tmp_path):
    """r14 (r13 verdict wrong #1 done-criterion): diffing an amplified
    hot bucket must never materialize Python row objects — the read path
    is pyarrow joins end to end and yields bounded RecordBatches, so
    worker memory is the columnar bucket footprint, not per-row tuples."""
    import inspect

    import pyarrow as pa
    from pyspark.sql import functions as F

    import cuny_courses_spark.operators.lakehouse as lh
    from cuny_courses_spark.sources import lakefeed as lf

    # structural: no Python-row materialization anywhere on the
    # production read path (feed_rows is a test-only helper)
    for obj in (
        lf._load_side,
        lf._changed_mask,
        lf._emit,
        lf._LakeFeedStreamReader,
        lf._LakeFeedStreamWriter,
    ):
        assert "to_pylist" not in inspect.getsource(obj), obj
        assert "to_pydict" not in inspect.getsource(obj), obj

    # functional: one hot bucket (every key ≡ 0 mod 16), fully rewritten
    n = 150_000
    table_dir = str(tmp_path / "hot")
    base = spark.range(n).select(
        (F.col("id") * 16).alias("k"), (F.col("id") % 997).alias("v")
    )
    lh.snapshot_write(base, table_dir, key="k", version=1)
    lh.merge_upsert(
        spark,
        table_dir,
        1,
        base.select("k", (F.col("v") + 1).alias("v")),
        key="k",
    )
    rdr = lf._LakeFeedStreamReader(
        {"table_dir": table_dir, "key": "k"}, ["k", "v"]
    )
    parts = rdr.partitions({"version": 1}, {"version": 2})
    assert len(parts) == 1  # one changed bucket → one InputPartition
    total, batches = 0, 0
    for b in rdr.read(parts[0]):
        assert isinstance(b, pa.RecordBatch)
        assert b.num_rows <= lf._EMIT_CHUNK
        assert set(b.schema.names) == {
            "k", "v", "_change_type", "_commit_version",
        }
        total += b.num_rows
        batches += 1
    assert total == n  # every row updated exactly once
    assert batches >= (n // lf._EMIT_CHUNK)  # chunking actually happened
