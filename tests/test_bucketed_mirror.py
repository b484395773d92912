"""r16 optimization guards: ingest-time bucketed mirrors (sources/bucketed.py).

Above a row threshold, the mirror adopters (q21, q16, q10, q4, q12, q13,
q17, q18) read bucketed mirrors of lineitem/orders/customer instead of the
plain scans; the DuckDB oracle texts are unchanged. These tests force the
mirror path at test scale (threshold monkeypatched to 0) and pin:

- value equality of the mirror-backed form vs the plain SQL text run
  through Spark itself;
- the mirror plan actually reads the mirror AND loses the fact exchange
  (no Exchange hashpartitioning on the join key feeding the fact join);
- the order-key adopters join their two mirrors bucket by bucket: a
  ShuffledHashJoin, no broadcast of the orders mirror, and no Sort;
- the mirror table holds exactly the source table's rows;
- the kill switch and the mirror memo never serve a stale layout.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _plan(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture()
def mirror_enabled(monkeypatch):
    import cuny_courses_spark.sources.bucketed as bucketed

    monkeypatch.setattr(bucketed, "_MIN_MIRROR_ROWS", 0)
    monkeypatch.delenv("SPARK_GRAFT_NO_BUCKETED", raising=False)
    # The analyzed-plan memo keys on (name, sf_dir, content-sig) — it
    # cannot see this fixture's threshold patch, so a previously cached
    # plain-path plan would mask the mirror path (and vice versa).
    monkeypatch.setenv("SPARK_GRAFT_NO_PLAN_CACHE", "1")
    yield bucketed


def test_mirror_rows_identical_to_source(spark, mirror_enabled):
    from cuny_courses_spark.sources.bucketed import clustered_view
    from cuny_courses_spark.sources.loaders import load

    name = clustered_view(spark, SF_DIR, "orders", "o_orderkey")
    assert name != "orders", "mirror creation must succeed at test scale"
    src = sorted(_rows(load(spark, SF_DIR, "orders")))
    mir = sorted(_rows(spark.table(name)))
    assert mir == src


def _query(qname):
    """(plain oracle text, registered Spark form) of adopter ``qname``."""
    from cuny_courses_spark.operators import tpch_sql as t

    return {
        "q21": (t._Q21, t.q_sql_q21_waiting_supplier),
        "q16": (t._Q16, t.q_sql_q16_supplier_cnt),
        "q10": (t._Q10, t.q_sql_q10_returned_topk),
        "q4": (t._Q4, t.q_sql_q4_priority_exists),
        "q12": (t._Q12, t.q_sql_q12_priority_by_class),
        "q13": (t._Q13, t.q_sql_q13_cust_distribution),
        "q17": (t._Q17, t.q_sql_q17_small_qty_revenue),
        "q18": (t._Q18, t.q_sql_q18_volume_customer),
    }[qname]


def _subtrees(tree: str, node: str):
    """Each subtree (as text) rooted at a ``node`` line of a physical
    plan's ``treeString``: the node's line plus every deeper line below
    it, up to the next line at the node's depth or shallower."""
    lines = tree.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    for i, line in enumerate(lines):
        if line.lstrip(" :+-").startswith(node):
            d, j = depth(line), i + 1
            while j < len(lines) and depth(lines[j]) > d:
                j += 1
            yield "\n".join(lines[i:j])


@pytest.mark.parametrize(
    "qname", ["q21", "q16", "q10", "q4", "q12", "q13", "q17", "q18"]
)
def test_mirror_form_matches_plain_text(spark, mirror_enabled, qname):
    from cuny_courses_spark.sql import run_sql

    sql, fn = _query(qname)
    df = fn(spark, SF_DIR)
    plan = _plan(spark, df)
    assert "ccs_bkt_" in plan, "mirror path must be taken"
    # sorted: q4/q12 carry no total ORDER BY (the oracle hash is
    # order-insensitive); the ordered queries sort identically anyway.
    assert sorted(_rows(df)) == sorted(_rows(run_sql(spark, SF_DIR, sql)))


@pytest.mark.parametrize("qname", ["q4", "q10", "q12", "q18", "q21"])
def test_order_key_mirrors_join_bucket_by_bucket(spark, mirror_enabled, qname):
    """The two order-key mirrors share key and bucket count, so the fact
    join is a per-bucket shuffled-hash join: no order-key Exchange, and
    the orders mirror is never collected into a broadcast."""
    _sql, fn = _query(qname)
    df = fn(spark, SF_DIR)
    df.collect()  # inspect the final adaptive plan, not the initial one
    plan = _plan(spark, df)
    assert "ccs_bkt_orders" in plan and "ccs_bkt_lineitem" in plan
    assert "ShuffledHashJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # A broadcast may carry a join's small result (q10/q18's top-20 into
    # customer), never the orders mirror's own rows.
    tree = df._jdf.queryExecution().executedPlan().toString()
    for sub in _subtrees(tree, "BroadcastExchange"):
        assert "ccs_bkt_orders" not in sub or "Join" in sub, sub
    if qname == "q4":
        assert "Sort [o_orderkey" not in plan
        assert "Sort [l_orderkey" not in plan
    if qname == "q18":
        assert "ExistingRDD" not in plan


def test_q18_mirror_path_off_keeps_two_phase_form(spark, monkeypatch):
    """With the kill switch set, q18 takes the plain two-phase form even
    where the mirrors would qualify."""
    import cuny_courses_spark.sources.bucketed as bucketed
    from cuny_courses_spark.operators.tpch_sql import (
        _Q18,
        q_sql_q18_volume_customer,
    )
    from cuny_courses_spark.sql import run_sql

    monkeypatch.setattr(bucketed, "_MIN_MIRROR_ROWS", 0)
    monkeypatch.setenv("SPARK_GRAFT_NO_BUCKETED", "1")
    df = q_sql_q18_volume_customer(spark, SF_DIR)
    plan = _plan(spark, df)
    assert "ccs_bkt_" not in plan
    assert "ExistingRDD" in plan  # the checkpoint probe ran
    assert _rows(df) == _rows(run_sql(spark, SF_DIR, _Q18))


def test_kill_switch_is_part_of_plan_cache_key(spark, monkeypatch):
    """Flipping SPARK_GRAFT_NO_BUCKETED mid-process changes the layout
    even with the analyzed-plan cache on."""
    import weakref

    import cuny_courses_spark.plans.plan_cache as plan_cache
    import cuny_courses_spark.sources.bucketed as bucketed
    from cuny_courses_spark.operators.tpch_sql import (
        q_sql_q12_priority_by_class,
    )

    monkeypatch.setattr(bucketed, "_MIN_MIRROR_ROWS", 0)
    monkeypatch.delenv("SPARK_GRAFT_NO_PLAN_CACHE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_NO_BUCKETED", raising=False)
    # A fresh cache: an earlier test may hold q12's plain plan under the
    # unpatched threshold, which the key cannot see.
    monkeypatch.setattr(plan_cache, "_CACHE", weakref.WeakKeyDictionary())
    first = q_sql_q12_priority_by_class(spark, SF_DIR)
    assert "ccs_bkt_" in _plan(spark, first)
    monkeypatch.setenv("SPARK_GRAFT_NO_BUCKETED", "1")
    second = q_sql_q12_priority_by_class(spark, SF_DIR)
    assert "ccs_bkt_" not in _plan(spark, second)
    assert sorted(_rows(first)) == sorted(_rows(second))


def test_dropped_mirror_leaves_the_memo(spark, mirror_enabled, monkeypatch):
    """_build_mirror keeps the 2 most recent other signatures of a
    (table, key) and drops the rest; a dropped mirror's memo entries go
    with it, so a memo hit can never name a dropped table. The key is one
    no query buckets on, so no real mirror shares the drop prefix."""
    import os
    import shutil
    import time
    from urllib.parse import urlparse

    bucketed = mirror_enabled
    monkeypatch.setattr(bucketed, "_KNOWN", {})
    prefix = "ccs_bkt_orders_o_totalprice_"
    name = f"{prefix}current"
    stale = [f"{prefix}stale{i}" for i in range(3)]  # stale0 is the oldest
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    now = time.time()
    try:
        for i, old in enumerate(stale):
            os.makedirs(os.path.join(wh, old), exist_ok=True)
            os.utime(os.path.join(wh, old), (now - 100 + i, now - 100 + i))
            bucketed._KNOWN[("app", "orders", "o_totalprice", old)] = old
        size = bucketed._source_stats(SF_DIR, "orders")[1]
        bucketed._build_mirror(
            spark, SF_DIR, "orders", "o_totalprice", name, size
        )
        assert spark.catalog.tableExists(name)
        assert not os.path.exists(os.path.join(wh, stale[0]))
        assert set(bucketed._KNOWN.values()) == set(stale[1:])
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        for d in [name, *stale]:
            shutil.rmtree(os.path.join(wh, d), ignore_errors=True)


def test_q21_mirror_join_is_exchange_free(spark, mirror_enabled):
    from cuny_courses_spark.operators.tpch_sql import (
        q_sql_q21_waiting_supplier,
    )

    plan = _plan(spark, q_sql_q21_waiting_supplier(spark, SF_DIR))
    # Co-bucketed scans must feed the ord⋈lineitem join and both rollups
    # without a fact exchange: no hash re-partitioning on the order key.
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_q16_mirror_dedup_is_exchange_free(spark, mirror_enabled):
    from cuny_courses_spark.operators.tpch_sql import q_sql_q16_supplier_cnt

    plan = _plan(spark, q_sql_q16_supplier_cnt(spark, SF_DIR))
    # The DISTINCT (l_partkey, l_suppkey) must reuse the bucketed scan's
    # partitioning (subset-key clustering satisfies the distribution).
    assert "Exchange hashpartitioning(l_partkey" not in plan


def test_mirror_disabled_env_falls_back(spark, monkeypatch):
    import cuny_courses_spark.sources.bucketed as bucketed

    monkeypatch.setattr(bucketed, "_MIN_MIRROR_ROWS", 0)
    monkeypatch.setenv("SPARK_GRAFT_NO_BUCKETED", "1")
    assert (
        bucketed.clustered_view(spark, SF_DIR, "lineitem", "l_orderkey")
        == "lineitem"
    )


def test_checkpoint_probe_skipped_when_bound_is_large(spark, monkeypatch):
    """VERDICT r15 #3: past the footer bound, _checkpointed_small must
    not materialize — no localCheckpoint scan (Scan ExistingRDD) in the
    plan, shuffle-hash posture taken, results unchanged."""
    import cuny_courses_spark.operators.joins as joins
    from cuny_courses_spark.operators.tpch_sql import (
        _Q18,
        q_sql_q18_volume_customer,
    )
    from cuny_courses_spark.sql import run_sql

    expected = _rows(run_sql(spark, SF_DIR, _Q18))
    monkeypatch.setattr(joins, "_STAR_BCAST_ROWS", 0)
    df = q_sql_q18_volume_customer(spark, SF_DIR)
    plan = _plan(spark, df)
    assert "ExistingRDD" not in plan
    assert "ShuffledHashJoin" in plan
    assert _rows(df) == expected
