"""Property tests for the determinism contract (SURVEY §2 preamble).

The engine's central correctness claim is that every checked output is a
pure function of table CONTENT — independent of partitioning, task order,
and engine. These tests attack that claim directly: re-evaluate under
adversarial repartitionings and against independent Python references on
hypothesis-generated inputs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cuny_courses_spark.common import fp, fpsum
from cuny_courses_spark.sources.loaders import load
from tests.conftest import SF_DIR


def test_fpsum_partition_independent(spark):
    # Exact fixed-point sums must be bit-identical under any partitioning
    # (the float-sum order-dependence fpsum exists to remove).
    li = load(spark, SF_DIR, "lineitem")
    sums = [
        li.repartition(n)
        .agg(fpsum(fp("l_extendedprice"), 2, "s"))
        .collect()[0]["s"]
        for n in (1, 7, 32)
    ]
    assert sums[0] == sums[1] == sums[2]


def test_hash_sample_partition_independent(spark):
    # Hash-sample membership is a pure function of the key: the sampled id
    # set must not change with partitioning (rand()-based sampling fails
    # this — the reason q_sample_hash_stratified exists).
    d = load(spark, SF_DIR, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|42"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    ids = [
        {r["doc_id"] for r in d.repartition(n).filter(bucket < 30).select("doc_id").collect()}
        for n in (1, 13)
    ]
    assert ids[0] == ids[1] and len(ids[0]) > 0


def test_salted_agg_equals_plain(spark):
    # The two-stage salted aggregate must be bit-identical to the plain
    # groupBy at any salt width (associativity of exact partials).
    li = load(spark, SF_DIR, "lineitem")
    plain = {
        r["l_returnflag"]: (r["s"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(fpsum(fp("l_quantity"), 2, "s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for width in (2, 64):
        partial = (
            li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(width)))
            .groupBy("l_returnflag", "_salt")
            .agg(
                F.sum(fp("l_quantity").cast("decimal(38,0)")).alias("_ps"),
                F.count(F.lit(1)).alias("_pc"),
            )
        )
        salted = {
            r["l_returnflag"]: (r["s"], r["n"])
            for r in partial.groupBy("l_returnflag")
            .agg(
                F.round(F.sum("_ps").cast("double") / 100.0, 4).alias("s"),
                F.sum("_pc").cast("long").alias("n"),
            )
            .collect()
        }
        assert salted == plain


def _py_fingerprint(text: str) -> int:
    acc = 0
    for ch in text:
        acc = (acc * 31 + ord(ch)) % 2147483647
    return acc


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=16,
        unique=True,
    )
)
def test_fingerprint_matches_python_reference(spark, texts):
    # The rolling-hash fingerprint expression (q_text_fingerprint's spec)
    # must agree with an independent sequential Python fold on arbitrary
    # printable-ASCII inputs — one batched Spark job per example.
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    expr = F.expr(
        "aggregate(sequence(1, length(text)), CAST(0 AS BIGINT), "
        "(acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 2147483647)"
    )
    got = {r["text"]: r["fp"] for r in df.select("text", expr.alias("fp")).collect()}
    assert got == {t: _py_fingerprint(t) for t in texts}


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    cents=st.lists(
        st.integers(min_value=-(10**12), max_value=10**12),
        min_size=1,
        max_size=200,
    )
)
def test_fp_recovers_exact_cents(spark, cents):
    # fp() must recover the exact integer a 2-dp decimal's double image
    # approximates, and fpsum must equal the exact integer sum — for any
    # magnitude profile (hypothesis-generated, one batched job per example).
    df = spark.createDataFrame([(c / 100.0,) for c in cents], "x double")
    row = df.agg(
        F.sum(fp("x").cast("decimal(38,0)")).cast("long").alias("s")
    ).collect()[0]
    assert row["s"] == sum(cents)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-(10**14), max_value=10**14),
            st.sampled_from(
                # adversarial split points: remainder-mask edges and sign
                # flips where the hi/lo identity could plausibly break
                [0, 1, -1, (1 << 20) - 1, 1 << 20, -(1 << 20),
                 -(1 << 20) - 1, 10**14, -(10**14)]
            ),
        ),
        min_size=1,
        max_size=200,
    ),
    parts=st.integers(min_value=1, max_value=13),
)
def test_fpx_total_exact_on_adversarial_ints(spark, vals, parts):
    # The split-long accumulator (common._fpx_total) must equal the exact
    # Python integer sum for ANY int64 profile — negatives, mask-edge
    # values, mixed magnitudes — under any partitioning. This is the
    # engine-wide guarantee every fpsum/fpavg call site inherits.
    from cuny_courses_spark.common import _fpx_total

    df = spark.createDataFrame([(v,) for v in vals], "x long").repartition(
        parts
    )
    got = df.agg(
        _fpx_total(F.col("x")).cast("string").alias("s")
    ).collect()[0]["s"]
    assert int(got) == sum(vals), (got, sum(vals))


def test_chunking_invariants(spark):
    # Every document's chunks must (a) start at stride-24 offsets so
    # consecutive full chunks overlap by exactly 8 tokens, (b) jointly
    # cover every token, (c) have the final chunk end exactly at the
    # document's last token.
    from cuny_courses_spark.registry import queries

    chunks = (
        queries()["q_text_chunk_overlap"](spark, SF_DIR)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("chunk_idx").alias("max_idx"),
            F.sum("n_tok").alias("tok_with_overlap"),
            F.max(F.col("chunk_idx") * 24 + F.col("n_tok")).alias("max_end"),
        )
    )
    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("nt")
    )
    j = chunks.join(docs, "doc_id").collect()
    assert len(j) > 0
    for r in j:
        # chunk_idx is dense 0..max_idx
        assert r["n_chunks"] == r["max_idx"] + 1, r
        # last chunk ends at the last token (full coverage, no spill)
        assert r["max_end"] == r["nt"], r
        # overlap accounting: sum of chunk sizes = nt + 8*(n_chunks-1)
        # except the tail chunk may be shorter than the overlap itself;
        # coverage (max_end) plus density already pin the layout, so just
        # bound the total.
        assert r["tok_with_overlap"] >= r["nt"], r


def test_pii_redaction_leaves_no_matches(spark):
    # After redaction the cleaned text must contain zero email/phone
    # pattern matches, and every injected contact line must have been hit
    # (n_email/n_phone >= 1 per doc by construction).
    from cuny_courses_spark.operators.text import q_text_pii_redact  # noqa: F401
    from cuny_courses_spark.registry import queries
    from cuny_courses_spark.sources.loaders import load as _load

    d = _load(spark, SF_DIR, "documents")
    raw = F.concat(
        F.lower("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@mail-"), F.col("lang"),
        F.lit(".com ph 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email = r"[a-z0-9.-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone = r"555-[0-9]{4}"
    clean = F.regexp_replace(F.regexp_replace(raw, email, "<EMAIL>"), phone, "<PHONE>")
    residual = d.select(
        (F.regexp_count(clean, F.lit(email)) + F.regexp_count(clean, F.lit(phone))).alias("r")
    ).agg(F.sum("r").alias("total")).collect()[0]["total"]
    assert residual == 0
    stats = queries()["q_text_pii_redact"](spark, SF_DIR).agg(
        F.min("n_email").alias("me"), F.min("n_phone").alias("mp")
    ).collect()[0]
    assert stats["me"] >= 1 and stats["mp"] >= 1


def test_pairs_threshold_split_identity(spark):
    # The size-triggered sub-block split (r2 verdict: guard the label-
    # blocked quadratic scan) must be output-IDENTICAL to the unsplit
    # per-label Gram scan: every unordered same-label pair lands in
    # exactly one sub-block-pair group, and per-pair arithmetic/rounding
    # is the same sequential fold either way. cap=17 forces every fixture
    # label to split into many sub-blocks; threshold 0.30 keeps the
    # compared output non-empty on the near-orthogonal corpus.
    import pandas as pd

    from cuny_courses_spark.operators.similarity import pairs_threshold_blocked

    e = load(spark, SF_DIR, "embeddings").select("vec_id", "label", "embedding")
    unsplit = (
        pairs_threshold_blocked(e, threshold=0.30, cap=10**9)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    split = (
        pairs_threshold_blocked(e, threshold=0.30, cap=17)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(unsplit) > 0
    pd.testing.assert_frame_equal(unsplit, split)


def test_round4_np_matches_decimal_half_up():
    # The fast-path/boundary-fix rounding must agree with exact decimal
    # HALF_UP everywhere — including constructed .00005 boundaries where
    # np.round alone banker's-rounds the other way.
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from cuny_courses_spark.operators.similarity import _round4_np

    rng = np.random.RandomState(42)
    xs = np.concatenate(
        [
            rng.uniform(-1, 1, 5000),
            np.array([0.00005, 0.00015, -0.00005, -0.00015, 0.12345, -0.99995]),
        ]
    )
    got = _round4_np(xs.copy())
    want = np.array(
        [
            float(Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP))
            for x in xs
        ]
    )
    assert (got == want).all()


def test_triangles_degree_oriented_hub_bounded(spark):
    # Degeneracy-bounded orientation (r2 verdict #4): on a star-plus-ring
    # graph the hub (id 0, degree n) must source ZERO wedges — every hub
    # edge points inward because leaves have lower degree — while the
    # id-canonical orientation would fan out O(n²) wedges from it. Count
    # correctness: each ring edge (i, i+1) closes exactly one triangle
    # with the hub.
    from cuny_courses_spark.operators.graph import degree_oriented, triangle_count

    n = 60
    star = [(0, i) for i in range(1, n + 1)]
    ring = [(i, i + 1) for i in range(1, n)]
    edges = spark.createDataFrame(star + ring, "u long, v long")

    row = triangle_count(edges).collect()[0]
    assert row["n_triangles"] == n - 1  # one per ring edge
    assert row["n_edges"] == len(star) + len(ring)

    out = (
        degree_oriented(edges)
        .groupBy("src")
        .count()
        .toPandas()
        .set_index("src")["count"]
    )
    assert 0 not in out.index  # hub sources no edges at all
    # per-key wedge fan-out is bounded by the degeneracy (2 here), not by
    # the hub degree: max out-degree ≤ 3 (leaf: ≤2 ring + 1 star edge).
    assert out.max() <= 3


def test_fpsum_split_long_equals_decimal_reference(spark):
    # The split-long accumulator (r4: hi = x>>20, lo = x & mask, total =
    # hi·2^20 + lo) must compute the same exact integer as a reference
    # decimal(38,0) sum under any partitioning — including NEGATIVE
    # values, where the identity relies on arithmetic shift flooring and
    # the remainder being non-negative.
    from pyspark.sql import functions as SF

    li = load(spark, SF_DIR, "lineitem")
    # discount ≤ 1 ⇒ (10 − disc·100) goes negative on most rows: exercises
    # the two's-complement path with realistic magnitudes.
    for expr in (
        fp("l_extendedprice") * (100 - fp("l_discount")),
        fp("l_extendedprice") * (10 - fp("l_discount")),
    ):
        for n in (1, 7, 32):
            a = li.repartition(n).agg(fpsum(expr, 4, "s")).collect()[0]["s"]
            ref = SF.round(
                SF.sum(expr.cast("decimal(38,0)")).cast("double") / 1e4, 4
            ).alias("s")
            b = li.repartition(n).agg(ref).collect()[0]["s"]
            assert a == b


def test_ewma_partition_independent_and_bounded(spark):
    # The windowed fold must be a pure function of (user history order),
    # not physical layout; and an EWMA is a convex combination, so every
    # output lies within the frame's [min, max].
    from cuny_courses_spark.registry import queries

    q = queries()["q_ts_ewma"]
    base = {r["event_id"]: r["ewma10"] for r in q(spark, SF_DIR).collect()}
    again = {r["event_id"]: r["ewma10"] for r in q(spark, SF_DIR).collect()}
    assert base == again
    e = load(spark, SF_DIR, "events")
    lo, hi = e.agg(F.min("value"), F.max("value")).collect()[0]
    assert all(lo - 1e-4 <= v <= hi + 1e-4 for v in base.values())


def test_interpolate_agrees_with_locf_on_observed_days(spark):
    # On OBSERVED days both gap-fill flavors must emit the exact daily
    # total — they may differ only on synthesized (filled) rows.
    from cuny_courses_spark.registry import queries

    qs = queries()
    locf = {
        (r["user_id"], r["day"]): r["total_locf"]
        for r in qs["q_ts_gapfill_locf"](spark, SF_DIR).collect()
        if not r["filled"]
    }
    lin = {
        (r["user_id"], r["day"]): r["total_interp"]
        for r in qs["q_ts_interpolate_linear"](spark, SF_DIR).collect()
        if not r["filled"]
    }
    assert locf == lin and len(locf) > 0


def test_interpolated_value_between_brackets(spark):
    # A lerp never overshoots: every synthesized value lies within the
    # [prev, next] bracket of its user's observed totals — degenerate
    # edges (one-sided) equal the nearest observation and are covered by
    # the bracket of all observed values.
    from cuny_courses_spark.registry import queries

    rows = queries()["q_ts_interpolate_linear"](spark, SF_DIR).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for rs in by_user.values():
        obs = [r["total_interp"] for r in rs if not r["filled"]]
        lo, hi = min(obs), max(obs)
        for r in rs:
            if r["filled"]:
                assert lo - 1e-4 <= r["total_interp"] <= hi + 1e-4


def test_containment_dominates_jaccard(spark):
    # |∩|/min(|A|,|B|) ≥ |∩|/|∪| always — every Jaccard-0.6 pair must
    # reappear in the containment-0.8 output iff its containment clears
    # 0.8, and no containment value may be below the pair's jaccard.
    from cuny_courses_spark.registry import queries

    qs = queries()
    jac = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in qs["q_dedup_near_jaccard"](spark, SF_DIR).collect()
    }
    con = {
        (r["doc_id_a"], r["doc_id_b"]): r["containment"]
        for r in qs["q_dedup_containment"](spark, SF_DIR).collect()
    }
    for pair, c in con.items():
        if pair in jac:
            assert c >= jac[pair] - 1e-4, (pair, c, jac[pair])
    # exact duplicates (jaccard 1.0) are containment 1.0 by definition
    for pair, j in jac.items():
        if j >= 0.9999:
            assert con.get(pair) == 1.0, pair


def test_streak_matches_python_reference(spark):
    # Gaps-and-islands vs a direct per-user Python scan over active days.
    import datetime as dt

    from cuny_courses_spark.registry import queries

    got = {
        r["user_id"]: (r["longest_streak"], r["n_active_days"])
        for r in queries()["q_win_streak"](spark, SF_DIR).collect()
    }
    e = load(spark, SF_DIR, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    days_by_user: dict[int, set] = {}
    for r in e.collect():
        days_by_user.setdefault(r["user_id"], set()).add(r["day"])
    for uid, days in days_by_user.items():
        ds = sorted(days)
        longest = cur = 1
        for a, b in zip(ds, ds[1:]):
            cur = cur + 1 if (b - a) == dt.timedelta(days=1) else 1
            longest = max(longest, cur)
        assert got[uid] == (longest, len(ds)), uid


def test_pagerank_reliable_checkpoint_path(spark, tmp_path, monkeypatch):
    """Both superstep-checkpoint media produce identical ranks, and the
    reliable path actually persists to the configured directory (cluster
    fault-tolerance option, r8 verdict #5). localCheckpoint truncates
    lineage non-recoverably; SPARK_GRAFT_RELIABLE_CKPT_DIR swaps in
    reliable ``checkpoint()`` so executor loss re-reads instead of
    failing the job."""
    import os

    from cuny_courses_spark.registry import queries

    monkeypatch.setenv("SPARK_GRAFT_NO_PLAN_CACHE", "1")
    q = queries()["q_graph_pagerank"]
    local = sorted(q(spark, SF_DIR).collect())
    ckpt_dir = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT_DIR", ckpt_dir)
    reliable = sorted(q(spark, SF_DIR).collect())
    assert reliable == local
    # the reliable path wrote real checkpoint data under the option dir
    persisted = [
        os.path.join(r, f)
        for r, _, fs in os.walk(ckpt_dir)
        for f in fs
    ]
    assert persisted, "reliable checkpoint dir is empty"


def _py_span_stats(corpus: dict[int, list[str]], k: int):
    """Sequential reference for substring_span_per_doc: brute-force gram
    table, cross-doc dup marking, island merge."""
    from collections import defaultdict

    gram_docs: dict[tuple, set] = defaultdict(set)
    for d, t in corpus.items():
        for p in range(len(t) - k + 1):
            gram_docs[tuple(t[p : p + k])].add(d)
    out = {}
    for d, t in corpus.items():
        dup = [
            p
            for p in range(len(t) - k + 1)
            if len(gram_docs[tuple(t[p : p + k])]) >= 2
        ]
        if not dup:
            continue
        spans = []
        a = b = dup[0]
        for p in dup[1:]:
            if p == b + 1:
                b = p
            else:
                spans.append((a, b))
                a = b = p
        spans.append((a, b))
        out[d] = (len(spans), sum(b - a + k for a, b in spans))
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(list("abcd")), min_size=0, max_size=20
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(min_value=2, max_value=4),
)
def test_substring_spans_match_python_reference(spark, docs, k):
    # Tiny alphabet forces heavy cross-doc gram collisions, adjacent and
    # overlapping runs, whole-doc spans, and <k-token docs — the island
    # merge's edge cases. One batched Spark job per example.
    from cuny_courses_spark.operators.dedup import substring_span_per_doc

    corpus = {i: t for i, t in enumerate(docs)}
    df = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()],
        "doc_id long, t array<string>",
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"])
        for r in substring_span_per_doc(df, k).collect()
    }
    assert got == _py_span_stats(corpus, k)


def _py_bigram_ppl(texts: list[str]) -> dict[int, tuple[int, int]]:
    """Sequential reference for bigram_perplexity: add-one-smoothed bigram
    LM trained on the corpus, per-doc (n_bigrams, nll_unats) with each
    ln p rounded to integer micro-nats half-away-from-zero — the exact
    fixed-point contract the Spark plan implements distributively."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    toks = {i: t.lower().split(" ") for i, t in enumerate(texts)}
    bgs = {i: list(zip(ts, ts[1:])) for i, ts in toks.items()}
    ctx = Counter(p for b in bgs.values() for p, _ in b)
    bgc = Counter(bg for b in bgs.values() for bg in b)
    nv = len({w for ts in toks.values() for w in ts})
    out = {}
    for i, b in bgs.items():
        if not b:
            continue
        nll = 0
        for bg in b:
            lp = math.log((bgc[bg] + 1) / (ctx[bg[0]] + nv))
            nll -= int(
                Decimal(repr(lp * 1e6)).quantize(0, rounding=ROUND_HALF_UP)
            )
        out[i] = (len(b), nll)
    return out


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab "),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_bigram_perplexity_matches_python_reference(spark, texts):
    # The distributed train-then-score plan (two model aggregations +
    # join-back) must equal a sequential in-memory LM on tiny adversarial
    # corpora — repeated tokens, empty tokens from double spaces, docs too
    # short to score. Integer micro-nat totals compare exactly; no float
    # tolerance anywhere.
    from cuny_courses_spark.operators.text import bigram_perplexity

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_unats"])
        for r in bigram_perplexity(df)
        .select("doc_id", "n_bigrams", "nll_unats")
        .collect()
    }
    assert got == _py_bigram_ppl(texts)


def test_mixture_weights_invariants(spark):
    # The uniform-mixture downsampler: the minority language is the
    # binding budget (f_ppm == 1e6, keeps everything); every other
    # language keeps a subset; and the realized mixture cannot exceed
    # its per-language budget by more than hash-sampling noise would
    # allow (kept <= total always; f_ppm monotone in 1/total).
    from cuny_courses_spark.registry import queries

    rows = {
        r["lang"]: r
        for r in queries()["q_sample_mixture_weights"](
            spark, SF_DIR
        ).collect()
    }
    totals = {k: r["tokens_total"] for k, r in rows.items()}
    binding = min(totals, key=totals.get)
    assert rows[binding]["f_ppm"] == 1_000_000
    assert rows[binding]["tokens_kept"] == rows[binding]["tokens_total"]
    for k, r in rows.items():
        assert r["tokens_kept"] <= r["tokens_total"]
        assert r["f_ppm"] == totals[binding] * 1_000_000 // totals[k]


@given(
    keys=st.lists(
        st.integers(min_value=-(10**12), max_value=10**12),
        min_size=0,
        max_size=400,
    ),
    extra=st.integers(min_value=-(10**12), max_value=10**12),
)
@settings(max_examples=60, deadline=None)
def test_bloom_filter_never_false_negative(keys, extra):
    """r13 bloom index: membership of every inserted key is always
    admitted (pruning soundness is absolute; only false POSITIVES are
    allowed), the filter is deterministic, and the adaptive width is a
    pure function of the key count."""
    import hashlib

    from cuny_courses_spark.operators.lakehouse import (
        _bloom_m_for,
        _bloom_of_keys,
    )

    m = _bloom_m_for(len(keys))
    assert m == _bloom_m_for(len(keys)) and m % 8 == 0 and m >= 1024
    hexbits = _bloom_of_keys(keys, m)
    assert hexbits == _bloom_of_keys(keys, m)  # deterministic
    bits = bytes.fromhex(hexbits)

    def admitted(v) -> bool:
        return all(
            bits[h // 8] & (1 << (h % 8))
            for h in (
                int(hashlib.md5(f"{v}|{i}".encode()).hexdigest()[:8], 16)
                % m
                for i in range(4)
            )
        )

    assert all(admitted(v) for v in keys)  # zero false negatives
    if not keys:  # empty filter admits nothing
        assert not admitted(extra)


def test_identity_allocation_partition_independent(spark, tmp_path):
    """r13 identity columns: allocated ids are a pure function of the
    batch CONTENT (rank by key) — any input partitioning yields the
    identical (key, id) assignment."""
    from cuny_courses_spark.operators import lakehouse as lh

    o = load(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    assignments = []
    for i, n in enumerate((1, 7, 32)):
        td = str(tmp_path / f"t{i}")
        lh.create_with_identity(
            o.repartition(n), td, key="k", id_col="rid"
        )
        assignments.append(
            sorted(
                (r["k"], r["rid"])
                for r in lh.snapshot_read(spark, td).collect()
            )
        )
    assert assignments[0] == assignments[1] == assignments[2]


def _reference_assign(df, cent, col, nprobe):
    """The crossJoin + ``_dot`` + ``row_number`` form every IVF index used
    before ``vector_index.assign``: the reference the map must match."""
    from pyspark.sql import Window

    from cuny_courses_spark.operators.similarity import _dot

    w = Window.partitionBy("rid").orderBy(
        F.col("affinity").desc(), F.col("cluster").asc()
    )
    return (
        df.crossJoin(F.broadcast(cent))
        .withColumn("affinity", _dot(col, "centroid") - F.col("half_sq"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("rid", "cluster")
    )


# few distinct values, so exact affinity ties are common
_VEC_VALUE = st.sampled_from(
    [0.0, -0.0, 1.0, -1.0, 0.5, -2.0, 0.1, float("nan"), float("inf")]
)


@st.composite
def _assign_case(draw):
    d = draw(st.integers(1, 4))
    pool = draw(
        st.lists(
            st.lists(st.sampled_from([0.0, -0.0, 1.0, -1.0, 0.5, 0.25]),
                     min_size=d, max_size=d),
            min_size=1, max_size=3,
        )
    )
    k = draw(st.integers(1, 6))
    cents = [pool[draw(st.integers(0, len(pool) - 1))] for _ in range(k)]
    vecs = draw(
        st.lists(
            st.one_of(
                st.none(), st.lists(_VEC_VALUE, min_size=d, max_size=d)
            ),
            min_size=1, max_size=14,
        )
    )
    return cents, vecs, draw(st.sampled_from([1, 2, k]))


# inf·0 makes a NaN affinity next to ±inf ones; centroids 1 and 2 tie
_EDGE_CENTS = [[0.0, 1.0], [1.0, 0.0], [1.0, 0.0], [-1.0, -0.0]]
_EDGE_VECS = [
    [float("inf"), 0.5], [float("nan"), 1.0], None, [1.0, 0.0],
    [-0.0, 0.0], [0.5, -1.0], [float("inf"), 0.0], [-1.0, 1.0],
    [0.25, 0.25],
]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(case=_assign_case())
@example(case=(_EDGE_CENTS, _EDGE_VECS, 1))
@example(case=(_EDGE_CENTS, _EDGE_VECS, 2))
def test_assign_matches_crossjoin_window_reference(spark, case):
    # vector_index.assign must pick, for every row, the same clusters as
    # the Spark crossJoin + row_number form: duplicate centroids (exact
    # ties), NaN, inf and -0.0 components, null vectors, and nprobe of
    # 1, 2 and k. Four-row Arrow batches split each partition into
    # several batches. Spark hands the map whole batches, so the Arrow
    # reader is also checked on every slice of the vectors directly.
    import numpy as np
    import pyarrow as pa

    from cuny_courses_spark.operators.vector_index import (
        _vectors,
        assign,
        centroid_table,
    )

    cents, vecs, nprobe = case
    d = len(cents[0])
    arr = pa.array(vecs, pa.list_(pa.float32()))
    whole = _vectors(arr, d)
    for lo in range(1, len(vecs)):
        np.testing.assert_array_equal(_vectors(arr.slice(lo), d), whole[lo:])
    df = spark.createDataFrame(
        list(enumerate(vecs)), "rid long, v array<float>"
    ).repartition(2)
    cent = centroid_table(spark, np.array(cents))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        got = sorted(
            (r["rid"], r["cluster"])
            for r in assign(df, cent, "v", nprobe).collect()
        )
    finally:
        spark.conf.set(key, old)
    ref = sorted(
        tuple(r) for r in _reference_assign(df, cent, "v", nprobe).collect()
    )
    assert got == ref, (cents, vecs, nprobe)
