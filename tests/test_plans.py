"""Physical-plan assertions (the 100 TB story, SURVEY §4): pushdown reaches
the scan, dims broadcast, top-k avoids global sort, partition pruning holds.
These guard against regressions that stay correct but stop scaling."""

from __future__ import annotations

from cuny_courses_spark.registry import queries
from tests.conftest import SF_DIR

_QS = queries()


def _plan(spark, name: str) -> str:
    return _QS[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "q_filter_simple")
    assert "PushedFilters: [" in plan and "LessThan(l_quantity" in plan, plan[:2000]


def test_column_pruning(spark):
    plan = _plan(spark, "q_scan_parquet")
    # 6-column projection must reach ReadSchema — no full-width scan
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema, read_schema


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "q_join_broadcast_dim")
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]


def test_topk_is_take_ordered(spark):
    plan = _plan(spark, "q_limit_topk")
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_partition_pruning(spark):
    plan = _plan(spark, "q_scan_partition_pruned")
    assert "PartitionFilters: [" in plan and "o_year" in plan, plan[:3000]


def test_flagship_whole_stage_codegen(spark):
    # Execute first: under AQE the codegen spans (printed as "*(n)" markers)
    # only appear in the final plan of executed query stages.
    df = _QS["q_agg_groupby"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("*(") >= 2, plan[:3000]
    # partial + final hash aggregation (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_star_folds_constant_dims(spark):
    # Constant-relation folding (r3 verdict #5): nation/region never appear
    # as scans — the region filter + nation lookup compile to an In() filter
    # PUSHED INTO the customer/supplier parquet scans plus a literal map.
    # Exactly 4 scans (fact, orders, customer, supplier) and ≤3 broadcast
    # builds (each BroadcastExchange is a whole Spark job in local mode).
    plan = _plan(spark, "q_join_star_multiway")
    assert plan.count("Scan parquet") == 4, plan[:3000]
    assert "In(c_nationkey" in plan, plan[:3000]
    assert "In(s_nationkey" in plan, plan[:3000]
    assert plan.count("BroadcastExchange") <= 3, plan[:3000]


def test_semi_anti_join_plans(spark):
    assert "LeftSemi" in _plan(spark, "q_join_semi")
    assert "LeftAnti" in _plan(spark, "q_join_anti")


def test_dedup_pair_joins_never_nested_loop(spark):
    # The O(n²) pair space must come from hash equi-joins on content keys,
    # never a nested-loop/cartesian pair enumeration (SURVEY §7 Phase 4).
    # For the certificate-wrapped entries (r3 verdict #4) the assertion
    # targets the PRODUCTION pair paths — the registered certificates add
    # 1-row flag crossJoins that are scalar BNLJs by design (covered by
    # the hygiene allowlist below).
    from cuny_courses_spark.operators.dedup import minhash_lsh_pairs
    from cuny_courses_spark.operators.similarity import neardup_lsh_pairs
    from cuny_courses_spark.sources.loaders import load

    for name in ("q_dedup_near_jaccard", "q_dedup_ngram_jaccard",
                 "q_dedup_simhash"):
        plan = _plan(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    for label, df in (
        ("minhash_lsh_pairs", minhash_lsh_pairs(spark, SF_DIR)),
        (
            "neardup_lsh_pairs",
            neardup_lsh_pairs(load(spark, SF_DIR, "embeddings")),
        ),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, label
        assert "CartesianProduct" not in plan, label


def test_sim_pairs_is_arrow_grouped_matmul(spark):
    # Label-blocked cosine pairs run as one Arrow-batched grouped map
    # (BLAS matmul per block), not a pair join.
    plan = _plan(spark, "q_sim_pairs_threshold")
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    assert "Join" not in plan, plan[:2000]


def test_bucketed_join_no_shuffle(spark, mirror_enabled):
    # Both sides bucketed on the join key → SMJ with ZERO exchange feeding
    # it; the only Exchange is the final groupBy(c_mktsegment) agg.
    plan = _plan(spark, "q_join_bucketed")
    assert "SortMergeJoin" in plan, plan[:3000]
    join_part = plan.split("SortMergeJoin")[-1]  # subtree below the join
    assert "Exchange" not in join_part, join_part[:2000]
    assert plan.count("Exchange") <= 1, plan[:3000]


def test_unpivot_is_mapside_expand(spark):
    # unpivot compiles to Expand — per-row, no extra shuffle beyond the
    # pivot aggregate's own exchange.
    plan = _plan(spark, "q_unpivot_long")
    assert "Expand" in plan, plan[:2000]


def test_pipeline_filter_pushdown(spark):
    # The quality gate's n_chars bound must reach the parquet scan.
    plan = _plan(spark, "q_pipeline_training_data")
    assert "PushedFilters" in plan and "GreaterThanOrEqual(n_chars,100)" in plan, (
        plan[:3000]
    )


def test_correlated_subquery_decorrelates(spark):
    # Catalyst must rewrite the correlated scalar subquery to an aggregate
    # + join — no per-row subplan re-execution (no InSubquery/scalar
    # subquery nodes left in the executed plan).
    plan = _plan(spark, "q_subquery_correlated_scalar")
    assert "Subquery" not in plan, plan[:3000]
    assert "HashAggregate" in plan and "Join" in plan, plan[:3000]


def test_text_pipeline_ops_are_narrow(spark):
    # Chunking, PII redaction, and quantization are per-row transforms —
    # a scan-transform pipeline with zero shuffles at any scale.
    for name in ("q_text_chunk_overlap", "q_text_pii_redact", "q_sim_quantize_int8"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name}: {plan[:2000]}"


def test_zorder_single_shuffle(spark):
    # Morton assignment is per-row; the only Exchange is the file_id agg
    # (partial map-side aggregation before it).
    plan = _plan(spark, "q_etl_zorder_layout")
    assert plan.count("Exchange") <= 1, plan[:3000]
    assert "HashAggregate" in plan


def test_skew_audit_mapside_partials(spark):
    # Two keyed aggregations, each with a partial before the exchange —
    # the histogram never moves raw rows.
    plan = _plan(spark, "q_etl_skew_audit")
    assert plan.count("Exchange") <= 2, plan[:3000]
    assert "partial_count" in plan or "HashAggregate" in plan


def test_dpp_prunes_fact_partitions(spark):
    # The year predicate reaches the fact scan as a runtime
    # dynamicpruningexpression on the partition column — never a full scan
    # of all year partitions.
    plan = _plan(spark, "q_join_dpp")
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_bloom_filter_injects_at_scale_thresholds(spark):
    # Under production-scale runtime-filter thresholds the filtered orders
    # side must build a bloom_filter_agg that reaches the lineitem side as
    # a might_contain row filter (InjectRuntimeFilter). Thresholds are
    # lowered to mirror scale, then restored.
    from cuny_courses_spark.operators.joins import build_selective_fact_join

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        df = build_selective_fact_join(spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:3000]
        assert "might_contain" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ohlc_single_exchange(spark):
    # The two window passes and the bar aggregate share one (type, day)
    # hash partitioning — exactly one Exchange in the whole plan.
    plan = _plan(spark, "q_win_ohlc_resample")
    assert plan.count("Exchange") == 1, plan[:3000]


def test_sessionize_single_exchange(spark):
    # lag → running-sum window and the session aggregate all run under one
    # HashPartitioning(user_id): the groupBy(user_id, session_id) keys are
    # a superset of the window partition key, so no second shuffle.
    plan = _plan(spark, "q_ts_sessionize")
    assert plan.count("Exchange") == 1, plan[:3000]


def test_gapfill_spine_is_explode_not_loop(spark):
    # The calendar spine comes from sequence()+explode (Generate node),
    # never a driver-side loop or a cross join against a range table.
    plan = _plan(spark, "q_ts_gapfill_locf")
    assert "Generate explode" in plan, plan[:3000]
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_salted_skew_join_shuffles_on_salt(spark):
    # The salt only bounds reducer input if the join actually shuffles on
    # (key, salt) — a broadcast would silently bypass the whole mechanism.
    plan = _plan(spark, "q_join_salted_skew")
    assert "ShuffledHashJoin" in plan, plan[:3000]
    join_head = plan.split("ShuffledHashJoin")[1].splitlines()[0]
    assert "_salt" in join_head, join_head


def test_contamination_broadcasts_benchmark_side(spark):
    # Asymmetric join contract: the small benchmark gram set broadcasts;
    # the corpus postings must NOT appear under a BroadcastExchange.
    plan = _plan(spark, "q_text_contamination")
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_q5_q7_zero_fact_exchanges(spark):
    # r8 broadcast staging: every build side of Q5/Q7 is selectivity-
    # bounded and broadcasts, so the ONLY hash exchange left in either
    # plan is the final small aggregate — the fact (and the orders scan
    # inside the oc build) never shuffle.
    for name in ("q_sql_q5_local_volume", "q_sql_q7_nation_volume"):
        plan = _plan(spark, name)
        n = plan.count("Exchange hashpartitioning")
        assert n == 1, f"{name}: {n} hash exchanges\n{plan[:3000]}"


def test_text_bcast_gate_fallback_matches(spark, monkeypatch):
    # r8 gate (_TEXT_BCAST_ROWS): past the cap, rarity/contamination fall
    # back from broadcast to a shuffled hash join instead of forcing a
    # driver-sized broadcast. Force the fallback (cap = 0) and pin (a)
    # values identical to the broadcast plan and (b) the broadcast gone.
    import pandas as pd

    from cuny_courses_spark.operators import text as text_mod
    from cuny_courses_spark.plans import plan_cache

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    monkeypatch.setenv("SPARK_GRAFT_NO_PLAN_CACHE", "1")
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for name in ("q_text_rarity_score", "q_text_contamination"):
            want = canon(_QS[name](spark, SF_DIR).toPandas())
            monkeypatch.setattr(text_mod, "_TEXT_BCAST_ROWS", 0)
            # Disable auto-broadcast too: at test SFs Spark would convert
            # the small side back to broadcast on its own, hiding whether
            # the FORCED broadcast is really gone.
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            df = _QS[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            got = canon(df.toPandas())
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
            monkeypatch.setattr(text_mod, "_TEXT_BCAST_ROWS", 4_000_000)
            assert "BroadcastHashJoin" not in plan, plan[:2000]
            assert want.equals(got), name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_pack_sequences_single_exchange(spark):
    # One shuffle on shard for the window; the (shard, pack) re-agg reuses
    # that partitioning (hash on a prefix of the grouping keys).
    plan = _plan(spark, "q_text_pack_sequences")
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 1, f"{n_shuffles} exchanges\n{plan[:3000]}"


def test_minhash_signatures_are_codegen_aggregates(spark):
    # Signature mins must be hash-aggregates over exploded rows (codegen),
    # not interpreted array_min(transform(...)) per slot.
    df = _QS["q_dedup_minhash_lsh"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "array_min" not in plan, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_neardup_cosine_no_corpus_broadcast(spark):
    # Block-partitioned exact scan: no BroadcastNestedLoopJoin over the
    # corpus, pair grids are computed per block-pair in Arrow batches.
    plan = _plan(spark, "q_sim_neardup_cosine")
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "FlatMapGroupsInPandas" in plan, plan[:3000]


def test_plan_hygiene_no_unbounded_pair_scans(spark):
    """Every registered query's plan is scanned for the two operators that
    silently stop scaling: CartesianProduct (never acceptable — even the
    deliberate cross join broadcasts its 5-row side) and
    BroadcastNestedLoopJoin (acceptable ONLY when the build side is a
    scalar/1-row aggregate or a deliberately bounded set, allowlisted
    below with the justification). A new query that ships an unbounded
    pair scan fails here before it ever meets real data. An allowlisted
    query whose plan has no BroadcastNestedLoopJoin fails too, so a stale
    entry cannot hide a nested-loop join added to that query later."""
    bnlj_allowed = {
        "q_join_cross",            # deliberate 5×25 cartesian demo, tiny side
        "q_etl_csv_validation",    # 1-row global count broadcast (scalar)
        "q_sample_balance_classes",  # 1-row global min-class-count (scalar)
        "q_sim_topk_per_query",    # bounded query set (vec_id < 10) non-equi
        "q_sim_ivf_topk",          # bounded query set exact referee (the q_sim_topk_per_query shape) + 1-row cert flags
        "q_pipeline_ann_index",    # exact-referee brute force over the broadcast query batch (the q_sim_topk_per_query shape)
        "q_sim_ann_lsh",           # exact-twin bounded query set + 1-row cert flags
        "q_sim_pq_adc",            # bounded query LUTs (10 rows, KB each) × coded corpus — the ADC scan is the linear pass + exact-twin cert flags
        "q_sim_ivfpq_topk",        # bounded query LUTs × probed lists + bounded query set exact referee + 1-row cert flags
        "q_pipeline_ivfpq_increment",  # bounded query LUTs × probed lists + bounded query set exact referee + 1-row cert flags (the q_sim_ivfpq_topk shape on the maintenance path)
        "q_sim_ivfpq_residual",  # bounded query set brute-force referee (the q_sim_topk_per_query shape)
        "q_sim_neardup_lsh",       # 1-row certificate-flag crossJoins (scalar)
        "q_dedup_minhash_lsh",     # 1-row certificate-flag crossJoins (scalar)
        "q_graph_triangles",       # 1-row scalar total broadcast
        "q_win_funnel_steps",      # 1-row scalar funnel-start broadcast
        "q_join_band_lookup",      # 5-row fixed tariff dim, range-only predicate
        "q_dedup_substring_spans",  # 1-row corpus-total broadcasts (scalar)
        "q_text_perplexity",       # 1-row vocab-size V broadcast (scalar)
        "q_sample_mixture_weights",  # 1-row min-tokens budget broadcast (scalar)
        "q_sample_temperature_mix",  # 1-row (tot, z_alpha) normalizer broadcast (scalar)
        "q_sim_mmr_diversify",     # bounded query set (vec_id < 5) non-equi broadcast — the q_sim_topk_per_query shape feeding the MMR re-rank
        "q_sim_knn_classify",      # bounded query set (20 test vectors) broadcast — the q_sim_topk_per_query shape feeding the vote stage
        "q_text_ccnet_buckets",    # 1-row vocab-size V broadcast inside bigram_perplexity (the q_text_perplexity scalar)
    }
    offenders = {}
    for name, fn in _QS.items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in bnlj_allowed:
            offenders[name] = "BroadcastNestedLoopJoin (not allowlisted)"
        elif "BroadcastNestedLoopJoin" not in plan and name in bnlj_allowed:
            offenders[name] = "allowlisted, but the plan has no BroadcastNestedLoopJoin"
    assert set(bnlj_allowed) <= set(_QS), set(bnlj_allowed) - set(_QS)
    assert not offenders, offenders


def test_interpolate_single_exchange(spark):
    # Both interpolation frames (backward last / forward first) share one
    # user_id partitioning + ONE sort: exactly one Exchange and one Sort
    # after the spine join — a second would mean the frames re-shuffled.
    plan = _plan(spark, "q_ts_interpolate_linear")
    tail = plan.split("Generate explode", 1)[0]
    assert tail.count("Exchange hashpartitioning(user_id") <= 1, plan[:4000]


def test_streak_exchanges_are_dedup_then_window(spark):
    # Exactly two exchanges, each earning its keep at scale: (1) the
    # distinct shuffles on (user_id, day) AFTER a map-side partial dedup —
    # collapsing the per-(user, day) duplication (10–100× on real event
    # streams) before any bytes move; (2) the window shuffles the already-
    # deduped day rows on user_id. Collapsing to one user_id exchange
    # would ship every RAW event. Everything downstream of the window
    # (both groupBys) must reuse its partitioning — no third exchange.
    plan = _plan(spark, "q_win_streak")
    assert plan.count("Exchange") == 2, plan[:4000]
    assert ", day#" in plan.split("Exchange")[2], plan[:4000]  # dedup keyed on (user, day)


def test_table_stats_no_expand(spark):
    # r16: the 6-column profile must be per-column single-distinct
    # aggregates unioned — NO Expand (the r15 one-scan multi-distinct
    # form replicated every fact row 7× through the partial aggregate;
    # measured 2.60 → 1.24 s at ×10, OPTIMIZATION_r16.md). One pruned
    # single-column scan per profiled column is the cheaper trade.
    plan = _plan(spark, "q_etl_table_stats")
    assert "Expand" not in plan, plan[:4000]
    assert plan.count("FileScan parquet") == 6, plan[:4000]


def test_asof_nearest_is_sweep_not_join(spark):
    # The nearest as-of must stay a union-sweep: no join between the
    # purchase and click branches (the quadratic candidate plan), and one
    # user_id window exchange feeding both frames.
    plan = _plan(spark, "q_join_asof_nearest")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        plan[:4000]
    )
    assert plan.count("Exchange hashpartitioning(user_id") <= 1, plan[:4000]


def test_ewma_is_frame_fold_no_python(spark):
    # The EWMA fold is a JVM higher-order function over the window frame —
    # no Python/Arrow evaluation anywhere in the plan.
    plan = _plan(spark, "q_ts_ewma")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        plan[:4000]
    )


def test_star_fact_join_strategy_gate(spark, monkeypatch):
    # r4 verdict #2: under the large profile the fact-join strategy is a
    # prepare-time runtime-stats decision — broadcast when the filtered
    # (orders ⋈ customer) build side fits (the fact is never shuffled),
    # shuffle-hash when it doesn't (the 100 TB path). Force each branch
    # and assert the physical plan actually flips.
    import cuny_courses_spark.operators.joins as J
    import cuny_courses_spark.session as sess

    monkeypatch.setattr(sess, "SMALL_INPUT_BYTES", -1)  # force large profile
    monkeypatch.setenv("SPARK_GRAFT_NO_PLAN_CACHE", "1")
    plan = _plan(spark, "q_join_star_multiway")
    assert "BroadcastHashJoin" in plan, plan[:3000]
    # the fact side of the first join must carry no Exchange: the only
    # exchange left is the 5-group aggregation shuffle
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:3000]
    monkeypatch.setattr(J, "_STAR_BCAST_ROWS", 0)  # build "too big"
    plan = _plan(spark, "q_join_star_multiway")
    assert "ShuffledHashJoin" in plan, plan[:3000]


def test_topk_fact_join_strategy_gate(spark, monkeypatch):
    # Same mini-CBO gate on q_limit_topk (r4 verdict #7).
    import cuny_courses_spark.operators.joins as J
    import cuny_courses_spark.session as sess

    monkeypatch.setattr(sess, "SMALL_INPUT_BYTES", -1)
    monkeypatch.setenv("SPARK_GRAFT_NO_PLAN_CACHE", "1")
    plan = _plan(spark, "q_limit_topk")
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
