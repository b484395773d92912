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
- a published mirror is adopted without a write, an unpublished staging
  directory never is, a failed build leaves nothing and falls back to
  the plain text, and a stale signature is collected;
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


@pytest.fixture()
def own_warehouse(spark, mirror_enabled, monkeypatch, tmp_path):
    """Mirrors published under a private warehouse directory, with no
    mirror in the catalog or the memo before or after the test, so the
    next ``clustered_view`` call acts like a new process's."""

    def forget():
        mirror_enabled._KNOWN.clear()
        for t in spark.catalog.listTables():
            if t.name.startswith(("ccs_bkt_", "ccs_stage_")):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")

    wh = tmp_path / "warehouse"
    forget()
    monkeypatch.setattr(mirror_enabled, "_warehouse", lambda _spark: str(wh))
    yield wh
    forget()


def _files(root):
    """{relative path: mtime_ns} of every file and directory under root."""
    return {
        str(p.relative_to(root)): p.stat().st_mtime_ns for p in root.rglob("*")
    }


def _last_job(spark) -> int:
    return max((j.jobId() for j in _jobs(spark)), default=-1)


def _jobs(spark):
    it = spark._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        yield it.next()


def _mirror_jobs_after(spark, job_id: int) -> list[str]:
    out = []
    for j in _jobs(spark):
        d = j.description()
        if j.jobId() > job_id and d.isDefined():
            if d.get().startswith("ingest: bucketed mirror"):
                out.append(d.get())
    return out


def _dead_pid() -> int:
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _forget(spark, bucketed, name):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    bucketed._KNOWN.clear()


def test_published_mirror_is_adopted_without_writing(spark, own_warehouse):
    """A process that finds a published mirror (no catalog entry, empty
    memo: what a new process sees) registers it and writes nothing."""
    from cuny_courses_spark.sources import bucketed
    from cuny_courses_spark.sources.loaders import load

    first = _last_job(spark)
    name = bucketed.clustered_view(spark, SF_DIR, "orders", "o_orderkey")
    assert name.startswith("ccs_bkt_orders_o_orderkey_")
    assert _mirror_jobs_after(spark, first), "the first call builds"
    before = _files(own_warehouse)
    assert [p for p in before if "/" not in p] == [name]
    _forget(spark, bucketed, name)
    mark = _last_job(spark)
    assert bucketed.clustered_view(spark, SF_DIR, "orders", "o_orderkey") == name
    assert _mirror_jobs_after(spark, mark) == []
    assert _files(own_warehouse) == before
    src = sorted(_rows(load(spark, SF_DIR, "orders")))
    assert sorted(_rows(spark.table(name))) == src


def test_unpublished_staging_dir_is_never_adopted(spark, own_warehouse):
    """A staging directory holding a truncated bucket file, of a dead or
    a live builder, is never read as the mirror; the dead one is
    removed and the live one left alone."""
    import os
    import shutil

    from cuny_courses_spark.sources import bucketed
    from cuny_courses_spark.sources.loaders import load

    name = bucketed.clustered_view(spark, SF_DIR, "orders", "o_orderkey")
    assert name != "orders"
    shutil.rmtree(own_warehouse / name)
    _forget(spark, bucketed, name)
    dead = own_warehouse / f".{name}.{_dead_pid()}.abcd1234"
    live = own_warehouse / f".{name}.{os.getpid()}.efgh5678"
    part = "part-00000-x_00000.c000.snappy.parquet"
    for tmp in (dead, live):
        tmp.mkdir()
        (tmp / part).write_bytes(b"PAR1 truncated")
    assert bucketed.clustered_view(spark, SF_DIR, "orders", "o_orderkey") == name
    src = sorted(_rows(load(spark, SF_DIR, "orders")))
    assert sorted(_rows(spark.table(name))) == src
    assert not dead.exists(), "a dead builder's staging dir is removed"
    assert (live / part).read_bytes() == b"PAR1 truncated"


def test_failed_build_falls_back_to_plain(spark, own_warehouse, monkeypatch):
    """A build that dies after its write returns the plain name: the
    adopter runs its plain text with the same rows, and no mirror
    directory, staging directory or catalog entry is left behind."""
    from pyspark.sql import DataFrameWriter

    from cuny_courses_spark.sources import bucketed
    from cuny_courses_spark.sql import run_sql

    save = DataFrameWriter.saveAsTable

    def save_then_die(self, *a, **k):
        save(self, *a, **k)
        raise RuntimeError("killed after the write")

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", save_then_die)
    assert bucketed.clustered_view(spark, SF_DIR, "orders", "o_orderkey") == "orders"
    sql, fn = _query("q12")
    df = fn(spark, SF_DIR)
    assert "ccs_bkt_" not in _plan(spark, df)
    assert sorted(_rows(df)) == sorted(_rows(run_sql(spark, SF_DIR, sql)))
    left = [p.name for p in own_warehouse.iterdir()] if own_warehouse.exists() else []
    assert not [n for n in left if "ccs_bkt_" in n], left
    tables = [t.name for t in spark.catalog.listTables()]
    assert not [t for t in tables if t.startswith(("ccs_bkt_", "ccs_stage_"))], tables


def test_stale_signature_is_collected(spark, own_warehouse, tmp_path):
    """A regenerated source gets a new mirror; publishing it removes the
    old signature's directory, and the memo never names the old one."""
    import pyarrow.parquet as pq

    from cuny_courses_spark.sources import bucketed
    from cuny_courses_spark.sources.loaders import load

    src = tmp_path / "src"
    src.mkdir()
    orders = pq.read_table(f"{SF_DIR}/orders.parquet")
    pq.write_table(orders, src / "orders.parquet")
    old = bucketed.clustered_view(spark, str(src), "orders", "o_orderkey")
    assert old != "orders" and (own_warehouse / old).is_dir()
    half = orders.slice(0, orders.num_rows // 2)
    pq.write_table(half, src / "orders.parquet")
    spark._ccs_df_cache.pop((str(src), "orders"), None)  # load()'s memo
    new = bucketed.clustered_view(spark, str(src), "orders", "o_orderkey")
    assert new not in (old, "orders")
    assert new.rsplit("_", 1)[0] == old.rsplit("_", 1)[0], "same family"
    assert not (own_warehouse / old).exists(), "the stale signature is collected"
    assert bucketed.clustered_view(spark, str(src), "orders", "o_orderkey") == new
    got = sorted(_rows(spark.table(new)))
    assert len(got) == half.num_rows
    assert got == sorted(_rows(load(spark, str(src), "orders")))


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


def test_co_bucketed_mirrors_share_the_largest_sources_count(
    spark, own_warehouse, monkeypatch
):
    """Once one source of a co-bucketed pair is large enough to size
    more than the 32-bucket floor (lineitem at 9 GB: 36 buckets), both
    mirrors of the call take that count, so q21's order-key join still
    plans no Exchange on the key."""
    from cuny_courses_spark.operators.tpch_sql import q_sql_q21_waiting_supplier
    from cuny_courses_spark.sources import bucketed

    real = bucketed._source_stats

    def stats(sf_dir, table):
        got = real(sf_dir, table)
        return (got[0], 9 << 30) if table == "lineitem" and got else got

    monkeypatch.setattr(bucketed, "_source_stats", stats)
    df = q_sql_q21_waiting_supplier(spark, SF_DIR)
    df.collect()
    counts = {
        t.name.split("_")[2]: spark.sql(f"DESCRIBE TABLE EXTENDED {t.name}")
        .filter("col_name = 'Num Buckets'").collect()[0]["data_type"]
        for t in spark.catalog.listTables() if t.name.startswith("ccs_bkt_")
    }
    assert counts == {"orders": "36", "lineitem": "36"}, counts
    plan = _plan(spark, df)
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
