"""§2 B-ext — TPC-H-shape composite queries through the SQL surface.

The reference's downstream consumers are SQL scripts over the warehouse
(SURVEY §3.3); this module widens that surface beyond q_subquery_* with
the classic TPC-H composite shapes expressible on the slim schema (no
partsupp / commitdate columns): Q4 (EXISTS + priority counts), Q6 (pure
pushdown filter-agg), Q7 (nation-pair volume), Q10 (returned-item top-k),
Q14 (promo revenue share), Q19 (OR-of-ANDs composite predicate). Each
entry is ONE SQL string executed verbatim by BOTH engines (run_sql →
spark.sql; the same text is the DuckDB oracle), proving dialect-portable
semantics end to end — with two r15 exceptions: Q18 and Q8 keep their
SQL texts as the DuckDB oracles verbatim, but their Spark sides are
two-phase DataFrame forms (`_checkpointed_small` below) whose results
are value-identical (proven by the driver's hash gate at every SF and
the ×100 ordered-collect equality A/B in OPTIMIZATION_r15.md). The
rewrite removes the full fact-table exchange that a static plan cannot
avoid: the join's small side only becomes KNOWABLY small after an
aggregation/filter whose cardinality no optimizer estimate survives, so
the Spark side materializes it, counts it, and broadcasts under a gate.

Determinism: monetary arithmetic goes through the exact cents fixed-point
contract (CAST(round(x*100) AS BIGINT), FIXTURES.md scale guarantee) so
products and sums are integer-exact and order-independent in both engines;
double literals are written in e-notation (1e4) because a decimal literal
(`10000.0`) parses as DECIMAL in Spark SQL and would change the output
type. Top-k carries a key tiebreak.

Scale notes: Q6 is the pushdown showcase (filters reach the parquet scan,
aggregation is a map-side-combined scalar); Q7/Q10 are star joins whose
dims broadcast (nation/customer) while the fact joins shuffle on their
keys with AQE handling skew; Q4's EXISTS plans as a left-semi join, never
a per-row subquery; Q19's OR-of-ANDs stays a single scan with a residual
filter after the part join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuny_courses_spark.registry import register
from cuny_courses_spark.sources.loaders import load
from cuny_courses_spark.sql import run_sql


def _checkpointed_small(
    df: DataFrame, sf_dir: str | None = None, bound_table: str | None = None
) -> DataFrame:
    """Materialize-count-broadcast gate (r15, guide §3.1) for a join side
    that is only KNOWABLY small after an aggregation or selective join —
    a cardinality no static estimate survives and AQE cannot see either
    (runtime stats describe the pre-aggregation exchange, not the
    HAVING/filter output above it, so AQE never converts these joins).

    ``localCheckpoint`` materializes the subplan once per execution
    (executor-resident blocks, never the driver; NOT a cross-run cache —
    every invocation recomputes from the parquet inputs), the count is a
    trivial job over the checkpointed blocks, and the broadcast happens
    only under the same 8M-row gate as the star family
    (``_STAR_BCAST_ROWS``). Past the gate the side stays distributed with
    the shuffle-hash posture the old texts pinned — scale-adaptive, no
    unconditional broadcast of a scaling aggregate. ×100 A/Bs
    (OPTIMIZATION_r15.md): Q18 6.58 → 2.77 s, Q8 16.7 → 5.6 s best-of-5
    interleaved, every lap pair in the same direction — the win is the
    fact-table exchange (orders 15 M rows / lineitem 8.6 M rows) that the
    broadcast deletes.

    INVARIANT: every query calling this MUST register with
    ``plan_cache=False`` — a memoized analyzed plan would pin the
    checkpointed blocks and re-invocations would reuse computed data
    (see registry.register).

    r16 (guide §5, VERDICT r15 "what's wrong" #1): past the gate the r15
    form STILL ran localCheckpoint+count on the full side — at 100 TB
    that is a TB-scale materialization to non-replicated executor-local
    blocks (lose one executor, lose the job) plus an extra pass, for
    zero benefit on the fallback branch. ``bound_table``'s parquet
    footer row count (metadata read, zero jobs) upper-bounds ``df``'s
    cardinality (Q18's HAVING output has ≤ one row per order; Q8's
    filtered customers/orders are subsets); when that bound exceeds
    8× the gate, the side cannot plausibly be broadcast-small enough to
    justify a probe whose materialization cost is itself unbounded —
    skip the checkpoint entirely and go straight to the shuffle-hash
    posture. The 8× headroom keeps the probe (a bounded ≤64 M-row
    narrow materialization) at every bench scale, where the aggregation
    reduces 15 M orders to a few thousand qualifying rows and the
    broadcast deletes the fact exchange; at 100 TB footers are billions
    of rows and no materialization ever happens."""
    from cuny_courses_spark.operators import joins as _joins

    gate = _joins._STAR_BCAST_ROWS
    if sf_dir is not None and bound_table is not None:
        bound = _joins._footer_rows(sf_dir, bound_table)
        if bound is not None and bound > 8 * gate:
            return df.hint("shuffle_hash")
    mat = df.localCheckpoint()
    if mat.count() <= gate:
        return F.broadcast(mat)
    return mat.hint("shuffle_hash")


def _footer_gated_broadcast(sf_dir: str, table: str, df: DataFrame) -> DataFrame:
    """Broadcast ``df`` while its base ``table``'s parquet footer row
    count fits the star gate (metadata read, zero jobs) — the same
    posture as the star family / q_win_period_over_period: dims that
    scale with SF must not carry a pinned broadcast."""
    from cuny_courses_spark.operators.joins import (
        _STAR_BCAST_ROWS,
        _footer_rows,
    )

    rows = _footer_rows(sf_dir, table)
    if (rows or 1 << 62) <= _STAR_BCAST_ROWS:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def _order_key_mirrors(spark: SparkSession, sf_dir: str) -> dict[str, str] | None:
    """{"orders": name, "lineitem": name} of the mirrors co-bucketed on the
    order key (sources/bucketed.py), or None below the mirror threshold,
    with ``SPARK_GRAFT_NO_BUCKETED=1`` or on any failure. One spec list
    for every adopter, so they all share the same two mirrors."""
    from cuny_courses_spark.sources.bucketed import clustered_views

    return clustered_views(
        spark, sf_dir, [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]
    )


# Exact cents images (FIXTURES scale contract), shared across the texts.
_EP = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_DISC = "CAST(round(l_discount * 100) AS BIGINT)"
# revenue in scale-1e4 fixed point: price_cents * (100 - disc_pct)
_REV = f"round(CAST(sum({_EP} * (100 - {_DISC})) AS DOUBLE) / 1e4, 4)"

_Q4 = """
WITH fo AS (
    SELECT o_orderkey, o_orderdate, o_orderpriority FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
)
SELECT /*+ SHUFFLE_HASH(fo) */ o_orderpriority,
       count(DISTINCT o_orderkey) AS order_count
FROM fo JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate > TIMESTAMP '1996-03-01 00:00:00'
GROUP BY o_orderpriority
"""


@register("q_sql_q4_priority_exists", oracle=_Q4)
def q_sql_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority counts of orders with a late shipment.

    r7: the EXISTS is expressed as an inner join + count(DISTINCT
    o_orderkey) — identical semantics (an order counts once iff ≥ 1
    qualifying line) — because Spark's left-semi plan shuffles BOTH sides
    and sorts the fact; the inner form takes a SHUFFLE_HASH build on the
    3-month filtered orders and a count-distinct whose partial aggregate
    collapses the fact side. ×100 A/B: 2.48 → 1.82 s, DuckDB flat
    (property-tested vs the EXISTS form on randomized corpora).

    The static `l_shipdate > 1996-03-01` bound is IMPLIED by the
    correlated condition (min o_orderdate + 60 days) but not derivable
    by either optimizer through the non-equi comparison — stating it
    explicitly pushes a shipdate filter into the lineitem scan (row-group
    min/max pruning at 100 TB; a 3× smaller probe side locally).

    r16 (guide §2.4/§6): above the mirror threshold both sides come from
    the ingest-time order-key bucketed mirrors (sources/bucketed.py) and
    the SHUFFLE_HASH(fo) hint stays: the fo⋈lineitem join is a per-bucket
    shuffled-hash join on the co-bucketed scans — no Exchange and no Sort
    on either side (without the hint the planner takes a sort-merge join
    that sorts both mirrors) — and the count(DISTINCT o_orderkey)
    partial-dedup reuses the same clustering. Oracle text verbatim; below
    the threshold the r15 text runs unchanged."""
    mirrors = _order_key_mirrors(spark, sf_dir)
    if mirrors is None:
        return run_sql(spark, sf_dir, _Q4)
    sql = _Q4.replace("FROM orders", f"FROM {mirrors['orders']}").replace(
        "FROM fo JOIN lineitem", f"FROM fo JOIN {mirrors['lineitem']}"
    )
    return run_sql(spark, sf_dir, sql)


_Q6 = f"""
SELECT round(CAST(sum({_EP} * {_DISC}) AS DOUBLE) / 1e4, 4) AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
  AND {_DISC} BETWEEN 5 AND 7
  AND l_quantity < 24
"""


@register("q_sql_q6_forecast_filter", oracle=_Q6)
def q_sql_q6_forecast_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + scalar aggregate — the predicate-
    pushdown showcase (date range reaches the parquet scan; the discount
    band runs on the exact cents image)."""
    return run_sql(spark, sf_dir, _Q6)


_Q7 = f"""
WITH fs AS (
    SELECT s_suppkey, n_name AS supp_nation
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
), fc AS (
    SELECT c_custkey, n_name AS cust_nation
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
), oc AS (
    SELECT /*+ BROADCAST(fc) */ o_orderkey, cust_nation
    FROM orders JOIN fc ON o_custkey = c_custkey
)
SELECT /*+ BROADCAST(fs, oc) */ supp_nation, cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {_REV} AS revenue
FROM lineitem
JOIN fs ON s_suppkey = l_suppkey
JOIN oc ON o_orderkey = l_orderkey
WHERE (supp_nation = 'NATION_3' AND cust_nation = 'NATION_7')
   OR (supp_nation = 'NATION_7' AND cust_nation = 'NATION_3')
GROUP BY supp_nation, cust_nation, l_year
"""


@register("q_sql_q7_nation_volume", oracle=_Q7)
def q_sql_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation pair by year —
    5-way star join; both nation dims broadcast.

    r7 (found by the ×100 measurement): the flat form's OR couples n1/n2,
    so Catalyst cannot derive the per-side nation filters from the
    disjunction and applied the pair predicate LAST — the entire
    unfiltered fact rode two SMJ exchanges before any nation pruning.
    The staged form makes the implied single-side filters explicit
    (each leg of the OR constrains BOTH nations to the same two-element
    set, so pre-filtering `fs`/`fc` to that set is semantics-preserving;
    the pair predicate still runs at the end), reducing every fact
    exchange by the nation selectivity before it happens. ×100 A/B:
    6.65 → 2.90 s; the same text also takes DuckDB 1.01 → 0.28 s.
    Property-tested against the flat form on randomized corpora
    (tests/test_rewrite_equivalence.py).

    r8: ZERO fact exchanges — every build side of the staged form is
    nation-bounded (fs = suppliers of 2 nations, 8 k rows ×100; fc =
    customers of 2 nations; oc = their orders, 1.25 M rows ≈ 8 % of
    orders), so all three broadcast and lineitem scans straight into
    two hash probes + the final small aggregate, and the oc build probes
    a broadcast fc instead of exchanging orders. ×100 A/B: 3.45 → 1.70 s
    (BROADCAST(fs, oc) alone: 2.07 — the fc broadcast removes the
    orders exchange too); DuckDB flat at 0.31 s; ratio ~11× → ~5.5×,
    against the recorded q7_fact_5col decode floor of 2.5×. Regime
    note: oc grows with SF — past broadcastability the hints flip back
    to SHUFFLE_HASH (the r7 form, kept A/B'd); the floor decomposition
    for that regime (scan + 2×~0.95 s exchanges) is recorded in
    BASELINE.md round-8."""
    return run_sql(spark, sf_dir, _Q7)


_Q10 = f"""
WITH od AS (
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
), agg AS (
    SELECT /*+ SHUFFLE_HASH(od) */ o_custkey, {_REV} AS revenue
    FROM lineitem JOIN od ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY o_custkey
    ORDER BY revenue DESC, o_custkey ASC
    LIMIT 20
)
SELECT c_custkey, c_name, revenue
FROM agg JOIN customer ON c_custkey = o_custkey
ORDER BY revenue DESC, c_custkey ASC
"""


@register("q_sql_q10_returned_topk", oracle=_Q10)
def q_sql_q10_returned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue.

    r7 (sweep extension): restructured so the top-20 cut happens BEFORE
    customer is touched — revenue groups by o_custkey (≡ c_custkey, one
    long key instead of key+name string), the ordered LIMIT runs on the
    aggregate, and customer joins 20 rows (statically small → broadcast).
    The join-everything-then-group form shuffled all customers and
    carried c_name through the aggregation hash for no semantic gain.
    The inner sort key is the same rounded-revenue image + custkey
    tiebreak as the outer, so the cut is identical (verified
    value-identical to the prior text in DuckDB at ×100 and by the
    driver's sf0.01 gate).

    PRECONDITION (FK contract): cutting top-20 before the customer join
    is equivalent ONLY because every o_custkey has a matching customer
    row (o_custkey ⊆ customer.c_custkey, FIXTURES.md referential
    contract; asserted by q_etl_fk_orphans and the equivalence suite's
    FK-consistent corpora). On orphaned data the inner join would drop
    ranked rows AFTER the cut and the top-20 multiset would change —
    re-check this note if the corpus contract ever loosens. SHUFFLE_HASH(od) builds on date-filtered
    orders rather than SMJ-sorting the 'R'-filtered fact; ×100 A/B:
    2.30 → 1.85 s (DuckDB twin 0.30 s — the residual is the recorded
    scan/shuffle floor, BASELINE.md round-7).

    r16 optimization round (guide §2.4/§6): above the mirror threshold
    both fact sides come from the ingest-time order-key bucketed mirrors
    (sources/bucketed.py) — the lineitem⋈od join keeps SHUFFLE_HASH(od)
    and runs as a per-bucket shuffled-hash join on the co-bucketed scans,
    leaving only the small per-custkey aggregate shuffle. Oracle text
    verbatim; below the threshold the r15 text runs unchanged."""
    mirrors = _order_key_mirrors(spark, sf_dir)
    if mirrors is None:
        return run_sql(spark, sf_dir, _Q10)
    sql = _Q10.replace("FROM orders", f"FROM {mirrors['orders']}").replace(
        "FROM lineitem JOIN od", f"FROM {mirrors['lineitem']} JOIN od"
    )
    return run_sql(spark, sf_dir, sql)


_Q14 = f"""
SELECT round(
        CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                      THEN {_EP} * (100 - {_DISC}) ELSE 0 END) AS DOUBLE)
        * 100.0
        / CAST(sum({_EP} * (100 - {_DISC})) AS DOUBLE), 4) AS promo_share_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-12-01 00:00:00'
"""


@register("q_sql_q14_promo_share", oracle=_Q14)
def q_sql_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional aggregate ratio;
    both numerator and denominator are exact integer sums, divided once at
    the end (single float op, identical both engines)."""
    return run_sql(spark, sf_dir, _Q14)


_Q19 = f"""
SELECT {_REV} AS revenue, count(*) AS n
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
       AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
       AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
       AND p_size BETWEEN 1 AND 15)
"""


@register("q_sql_q19_composite_or", oracle=_Q19)
def q_sql_q19_composite_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs composite predicate over the part join —
    one scan, one join, residual disjunction evaluated post-join (Catalyst
    extracts the common p_partkey equi-key; no union-of-scans rewrite)."""
    return run_sql(spark, sf_dir, _Q19)


_REC_TREE = """
WITH RECURSIVE tree AS (
    SELECT n_nationkey AS node, n_name, CAST(0 AS BIGINT) AS depth,
           CAST(n_nationkey AS STRING) AS path
    FROM nation WHERE n_nationkey = 0
    UNION ALL
    SELECT n.n_nationkey, n.n_name, t.depth + 1,
           t.path || '/' || CAST(n.n_nationkey AS STRING)
    FROM nation n JOIN tree t
      ON CAST(floor((n.n_nationkey - 1) / 2) AS BIGINT) = t.node
     AND n.n_nationkey > 0
)
SELECT node, n_name, depth, path FROM tree
"""


@register("q_sql_recursive_hierarchy", oracle=_REC_TREE)
def q_sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE hierarchy walk (Spark 4 `WITH RECURSIVE`): treat
    nation keys as an implicit binary tree (parent = ⌊(k−1)/2⌋) and
    materialize every node's depth and root-to-node path — the org-chart /
    BOM-expansion query shape, executed from ONE SQL text on both engines.
    Notes for portability: `CAST(... AS STRING)` (DuckDB aliases STRING to
    VARCHAR; Spark rejects bare VARCHAR), and the parent expression uses
    floor()+CAST because `/` is float division in both dialects while
    bare-CAST rounding differs. At scale Spark executes each recursion
    level as a join against the previous level's frame — the same
    iterative-join plan q_graph_pagerank builds manually, here planned by
    the engine."""
    return run_sql(spark, sf_dir, _REC_TREE)


_LATERAL = """
SELECT r.r_name, l.n_name, l.n_customers
FROM region r, LATERAL (
    SELECT n.n_name, count(*) AS n_customers
    FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    WHERE n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    ORDER BY n_customers DESC, n.n_name ASC
    LIMIT 2
) l
"""


@register("q_sql_lateral_topk", oracle=_LATERAL)
def q_sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY/LIMIT: top-2
    nations by customer count for EACH region — the "top-N per entity via
    lateral" idiom, one SQL text on both engines. Catalyst decorrelates
    the lateral into a window/aggregate plan (no per-outer-row
    re-execution), so it scales like q_win_topk_per_group rather than a
    nested loop; the ORDER BY carries a name tiebreak for deterministic
    LIMIT."""
    return run_sql(spark, sf_dir, _LATERAL)


_Q3 = f"""
WITH co AS (
    SELECT /*+ BROADCAST(customer) */
           o_orderkey, o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
)
SELECT /*+ BROADCAST(co) */
       l_orderkey, {_REV} AS revenue, o_orderdate, o_orderpriority
FROM co JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


@register("q_sql_q3_shipping_priority", oracle=_Q3)
def q_sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue top-10 for one market
    segment — 3-way join, group by order, TakeOrderedAndProject. The
    revenue sort key is the exact-cents rounded image (identical in both
    engines), with date+key tiebreaks so the LIMIT cut is total-ordered.

    r7 (sweep extension): the filtered customer⋈orders branch is a named
    CTE so a SHUFFLE_HASH hint can target the JOIN RESULT as the fact
    join's build side (SQL hints only resolve relation aliases — the
    flat 3-way form left the lineitem side SMJ-sorting 30 M filtered
    rows; hint comments execute as plain SQL in DuckDB). Both hinted
    builds are the provably smaller sides at any scale; the grouped
    aggregate reuses the probe side's l_orderkey partitioning. ×100 A/B:
    2.66 → 2.42 s vs DuckDB 0.32 s — the residual sits at the recorded
    component floor (BASELINE.md round-7). r8: both hints flip to
    BROADCAST — co is segment+date-bounded (546 k rows ×100, ~20 MB), so
    the fact pays zero exchanges before the TakeOrderedAndProject;
    2.72 → 1.49 s, DuckDB flat 0.34, ratio ~6.8× → ~4.4×. Past co's
    broadcastable regime the hints revert to the r7 SHUFFLE_HASH form
    (kept in the equivalence suite). The DataFrame twin
    q_limit_topk reaches 1.83 s only via its prepare-time COUNT-gated
    broadcast of co, a runtime decision a static portable SQL text
    cannot express (and AQE cannot recover — it submits both fact
    exchanges in parallel before the build's size is known)."""
    return run_sql(spark, sf_dir, _Q3)


_Q5 = f"""
WITH ac AS (
    SELECT c_custkey, c_nationkey
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
), oc AS (
    SELECT /*+ BROADCAST(ac) */ o_orderkey, c_nationkey
    FROM orders JOIN ac ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
)
SELECT /*+ BROADCAST(oc) */ n_name, {_REV} AS revenue
FROM lineitem
JOIN oc ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


@register("q_sql_q5_local_volume", oracle=_Q5)
def q_sql_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue per nation in one region —
    the 6-way join whose supplier join carries a SECOND equi-condition
    (c_nationkey = s_nationkey, the "local" constraint) folded into the
    join key, not a post-filter. nation/region broadcast.

    r7: REDUCE-FIRST staging as named CTEs (the q_join_star_multiway join
    order, expressed portably): region-filtered customers (`ac`) collapse
    orders to a narrow (o_orderkey, c_nationkey) build (`oc`) before
    lineitem is touched, and SHUFFLE_HASH hints (comments DuckDB executes
    as plain SQL) make each filtered branch the hash build instead of
    SMJ-sorting the fact chain — the hints name CTE aliases because SQL
    hints only resolve relations. ×100 A/B: 3.80 → 2.55 s, DuckDB
    unchanged (~0.27 s; its optimizer already staged the flat form).
    The DataFrame twin reaches 1.24 s via its prepare-time COUNT-gated
    broadcast of `oc` — the runtime decision a static SQL text cannot
    express (BASELINE.md round-7).

    r8: the SQL text now takes the same broadcast plan statically —
    `oc` is region- AND year-bounded (454 k rows at ×100, ~12 MB), so
    BROADCAST(ac)/BROADCAST(oc) leave the fact with ZERO exchanges
    before the 5-row aggregate. ×100 A/B: 3.10 → 1.57 s (matching the
    DataFrame twin's count-gated number); DuckDB flat 0.31/0.34; ratio
    ~10× → ~4.6×. Broadcasting supplier too measured 1.45 s (+4 %) —
    not worth forcing a 2 M-row build; past oc's broadcastable regime
    the hints flip back to SHUFFLE_HASH (the r7 form)."""
    return run_sql(spark, sf_dir, _Q5)


_Q8 = f"""
WITH fp AS (
    SELECT p_partkey FROM part WHERE p_type = 'ECONOMY'
), ac AS (
    SELECT c_custkey
    FROM customer JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
), oc AS (
    SELECT /*+ SHUFFLE_HASH(ac) */ o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS o_year
    FROM orders JOIN ac ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
), sn AS (
    SELECT s_suppkey, n2.n_name AS nation
    FROM supplier JOIN nation n2 ON s_nationkey = n2.n_nationkey
)
SELECT o_year,
       round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                  AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share
FROM (
    SELECT /*+ BROADCAST(fp, sn) SHUFFLE_HASH(oc) */ o_year,
           {_EP} * (100 - {_DISC}) AS volume, nation
    FROM lineitem
    JOIN fp ON p_partkey = l_partkey
    JOIN sn ON s_suppkey = l_suppkey
    JOIN oc ON l_orderkey = o_orderkey
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@register("q_sql_q8_mkt_share", oracle=_Q8, plan_cache=False)
def q_sql_q8_mkt_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of a part type in a
    region, by year — 8-way join with nation joined twice under different
    roles. Both numerator and denominator are exact integer sums; the
    share is ONE float division at the end (deterministic both engines).
    The conditional sum is a map-side partial aggregate — no second pass
    over the join output.

    r8 (r7 verdict #7 — floor-or-fix): Q5-style REDUCE-FIRST staging.
    The customer⋈nation⋈region chain collapses to `ac`, orders to a
    narrow (o_orderkey, o_year) build `oc` BEFORE lineitem is touched;
    the part filter `fp` and the supplier→nation map `sn` broadcast, so
    the fact pays exactly ONE exchange (the oc SHUFFLE_HASH probe on
    l_orderkey). ×100 A/B: 2.88 → 1.75 s (the SHUFFLE_HASH(sn) variant
    measured 2.18 — broadcasting sn removes a second fact exchange);
    DuckDB on the same text 0.40 → 0.44 s; ratio ~7.2× → ~4.0×, at the
    recorded q7_fact_5col + one-exchange floor. Regime note: sn is
    |supplier| rows (2 M at ×100, ~50 MB) — at a dim scale past
    broadcastability the hint flips to SHUFFLE_HASH(sn), A/B'd and still
    under the flat form. Equivalence-tested vs the canonical flat 8-way
    join on 25 random FK-consistent corpora.

    r15 optimization round (guide §3.1): the Spark side moves to the
    two-phase ``_checkpointed_small`` form at BOTH seams — `ac`
    (region-filtered customers) and `oc` (date-filtered ASIA orders) are
    materialized, counted, and broadcast under the star gate, so NEITHER
    FACT IS EVER EXCHANGED: orders probes the ac broadcast map-side, and
    lineitem probes the oc broadcast map-side; the only shuffle left is
    the |years|-row o_year aggregate. Past the gate each seam falls back
    to the shuffle-hash posture above. The pinned BROADCAST(fp, sn)
    hints of the SQL text (part/supplier SCALE with SF) become
    footer-row-gated broadcasts — the same 100 TB posture fix as
    q_win_period_over_period. The DuckDB oracle keeps the _Q8 text
    verbatim; ×100 ordered-collect equality + per-SF oracle hashes prove
    the forms identical. ×100 A/B (interleaved, best-of-5): 16.7 →
    5.6 s, new wins every lap pair; plans/r15/q_sql_q8_*."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    s = load(spark, sf_dir, "supplier")
    p = load(spark, sf_dir, "part")

    fp = p.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    ac = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(
            r.filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    oc = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(
            _checkpointed_small(ac, sf_dir, "customer"),
            o.o_custkey == F.col("c_custkey"),
        )
        .select(
            "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
        )
    )
    sn = s.join(n, s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    volume = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    all_nations = (
        li.join(
            _footer_gated_broadcast(sf_dir, "part", fp),
            li.l_partkey == fp.p_partkey,
        )
        .join(
            _footer_gated_broadcast(sf_dir, "supplier", sn),
            li.l_suppkey == sn.s_suppkey,
        )
        .join(
            _checkpointed_small(oc, sf_dir, "orders"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select("o_year", volume.alias("volume"), "nation")
    )
    return (
        all_nations.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("nation") == "NATION_3", F.col("volume")
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("volume").cast("double"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey,
           CAST(coalesce(oc.cnt, 0) AS BIGINT) AS c_count
    FROM customer
    LEFT JOIN (
        SELECT o_custkey, count(*) AS cnt
        FROM orders
        WHERE o_orderpriority <> '1-URGENT'
        GROUP BY o_custkey
    ) oc ON c_custkey = oc.o_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q_sql_q13_cust_distribution", oracle=_Q13)
def q_sql_q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer. The
    LEFT join's zero-order preservation is the semantic core (customers
    with no qualifying orders must survive with c_count = 0 — the
    textbook filter-inside-join-condition form, here expressed as a
    pre-filtered aggregate with coalesce(·, 0), value-identical).

    r7 (sweep extension): orders is AGGREGATED BEFORE the join — the
    per-custkey count is map-side-combined, so the exchange carries
    ~n_customers (custkey, cnt) pairs instead of every qualifying order
    ROW (×100: 1.3 M vs 15 M rows through the shuffle; the textbook
    join-then-count form shuffles the fact). ×100 A/B: 1.51 → 0.97 s
    (DuckDB twin 0.13 → 0.09 — it folds either form to the same plan
    shape; the remaining ~11× is the orders-scan floor + exchange,
    BASELINE.md round-7). The outer re-aggregation input stays one row
    per customer, tiny at any scale.

    r16 (guide §2.4/§6): above the mirror threshold both sides come
    from CUSTKEY-bucketed ingest mirrors (sources/bucketed.py) — the
    per-custkey aggregate reuses the orders scan's clustering and the
    LEFT join reuses both (the r15 sidecar's q_sql_q13_bucketed A/B,
    promoted to the declared path). Oracle text verbatim; below the
    threshold the r15 text runs unchanged."""
    from cuny_courses_spark.sources.bucketed import clustered_views

    mirrors = clustered_views(
        spark,
        sf_dir,
        [("customer", "c_custkey"), ("orders", "o_custkey")],
    )
    if mirrors is None:
        return run_sql(spark, sf_dir, _Q13)
    sql = _Q13.replace("FROM customer", f"FROM {mirrors['customer']}").replace(
        "FROM orders", f"FROM {mirrors['orders']}"
    )
    return run_sql(spark, sf_dir, sql)


_Q15 = f"""
WITH revenue0 AS (
    SELECT l_suppkey AS supplier_no,
           CAST(sum({_EP} * (100 - {_DISC})) AS BIGINT) AS total_fixed
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(CAST(total_fixed AS DOUBLE) / 1e4, 4) AS total_revenue
FROM supplier
JOIN (SELECT supplier_no, total_fixed,
             max(total_fixed) OVER () AS mx
      FROM revenue0) r ON s_suppkey = supplier_no
WHERE total_fixed = mx
ORDER BY s_suppkey
"""


@register("q_sql_q15_top_supplier", oracle=_Q15)
def q_sql_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.

    Written with ``max() OVER ()`` on the grouped CTE, not the classic
    scalar-max subquery: Spark inlines deterministic CTEs, so the subquery
    form aggregated lineitem TWICE. The empty-partition window does route
    the grouped rows through one task — acceptable because revenue0 is
    |suppliers| rows (orders of magnitude below the fact it replaced a
    second full aggregation of); the max comparison stays on the BIGINT
    fixed-point total, so ties are exact, and ORDER BY s_suppkey makes
    multi-supplier ties deterministic."""
    return run_sql(spark, sf_dir, _Q15)


_Q17 = f"""
SELECT round(CAST(sum({_EP}) AS DOUBLE) / 1e4 / 7.0, 4) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (SELECT l_partkey AS pk, count(*) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
      FROM lineitem GROUP BY l_partkey) pa
  ON pa.pk = l_partkey
WHERE p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
  AND 5 * CAST(l_quantity AS BIGINT) * pa.n < pa.s
"""


@register("q_sql_q17_small_qty_revenue", oracle=_Q17)
def q_sql_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — the
    classic correlated `l_quantity < 0.2 * avg(per part)` written as a
    per-part aggregate join with the comparison cross-multiplied into
    integers (5·qty·n < Σqty): no float avg, so the cut is bit-exact in
    both engines. Quantities are integer-valued by fixture contract
    (FIXTURES.md). This is exactly the decorrelated plan Catalyst would
    produce from the subquery form, stated explicitly.

    r16 (guide §2.4/§6): above the mirror threshold BOTH lineitem
    references read the part-key bucketed ingest mirror
    (sources/bucketed.py, shared with q16) — the per-partkey aggregate
    reuses the scan's clustering and the fact⋈aggregate self-join runs
    on co-partitioned sides, so the fact is never exchanged; the
    filtered part dim broadcasts as before. Oracle text verbatim; below
    the threshold the r15 text runs unchanged."""
    from cuny_courses_spark.sources.bucketed import clustered_view

    li = clustered_view(spark, sf_dir, "lineitem", "l_partkey")
    if li == "lineitem":
        return run_sql(spark, sf_dir, _Q17)
    sql = _Q17.replace("FROM lineitem\nJOIN part", f"FROM {li}\nJOIN part").replace(
        "FROM lineitem GROUP BY l_partkey", f"FROM {li} GROUP BY l_partkey"
    )
    return run_sql(spark, sf_dir, sql)


_Q18 = """
WITH big AS (
    SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS BIGINT)) > 300
), top AS (
    SELECT /*+ SHUFFLE_HASH(big) */
           o_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM big JOIN orders ON o_orderkey = big.l_orderkey
    ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey ASC
    LIMIT 20
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM top JOIN customer ON c_custkey = o_custkey
ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey ASC
"""


@register("q_sql_q18_volume_customer", oracle=_Q18, plan_cache=False)
def q_sql_q18_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (total quantity > 300) with
    their customers, folded per r6 VERDICT #2: the per-order quantity sum
    is computed ONCE in `big` and reused as both the HAVING filter and
    the output column (the classic IN-over-HAVING form scans and
    aggregates lineitem twice — semi-join probe + output aggregate), and
    the top-20 is taken BEFORE the customer join (`top` — the orderdate/
    totalprice sort keys live entirely in orders), so customer is probed
    by 20 rows (statically-known small after LIMIT → broadcast) instead
    of shuffling all customers.

    PRECONDITION (FK contract): the early top-20 cut relies on
    o_custkey ⊆ customer.c_custkey (FIXTURES.md referential contract;
    asserted by q_etl_fk_orphans and the equivalence suite's
    FK-consistent corpora) — an orphaned o_custkey would be dropped by
    the customer join AFTER the cut, changing the top-20 multiset. The
    driver's same-text oracle gate cannot catch a violation (both
    engines run this text), so re-check here if the corpus contract
    ever loosens. ×100 A/B (round 7): the fold cut Spark
    4.43 → 2.55 s; the same text also cut the DuckDB twin 1.54 → 0.53 s,
    so the recorded ratio moves 2.9× → ~4.8× — which equals the bare
    forced-decode scan + shuffle-agg floor (components at ×100: lineitem
    2-col scan 0.39 s + group/HAVING 1.84 s + orders 4-col scan 0.43 s +
    customer scan 0.23 s = 2.50 s ≈ the whole query; BASELINE.md round-7).

    r15: the big⋈orders join gets SHUFFLE_HASH(big). AQE cannot convert
    this SMJ to a broadcast because it only sees the PRE-HAVING shuffle
    size (15 M partial-sum rows) — the post-HAVING cardinality (a few
    thousand qualifying orders) is invisible until the final aggregate
    runs INSIDE the join stage. The static hint replaces both SMJ sorts
    (the 15 M-row orders sort dominated) with a per-partition hash
    build on big — the provably smaller side in every partition at any
    scale (big's keys ⊆ orders'), no broadcast-regime bound needed.
    ×100 A/B (r15, quiet box): 2.55 → 2.13 s with tighter laps
    (2.16/2.13/2.17 vs base 3.14/2.80/2.55); BROADCAST(big) measured
    2.06 s but its build is only qty-threshold-bounded, not
    scale-bounded — outside the repo's static-hint posture. o_totalprice
    passes through raw (same parquet double both engines); the ORDER BY
    sorts its exact cents image with a key tiebreak so the LIMIT is
    total-ordered, and re-sorting 20 joined rows in the outer query is
    free.

    r15 optimization round (guide §3.1): the Spark side moves to the
    two-phase ``_checkpointed_small`` form — `big` is materialized
    (localCheckpoint, executor blocks, per-execution), counted, and
    broadcast under the star gate, so ORDERS IS NEVER EXCHANGED: the
    15 M-row orders shuffle that SHUFFLE_HASH(big) still paid becomes a
    map-side broadcast probe. Past the gate (big scales with SF — a
    qty-threshold cut of orders) the join falls back to the shuffle-hash
    posture above, unchanged. The DuckDB oracle keeps the _Q18 text
    verbatim; ×100 ordered-collect equality + per-SF oracle hashes prove
    the forms identical. ×100 A/B (interleaved, best-of-5): 6.58 →
    2.77 s, new wins every lap pair; plans/r15/q_sql_q18_*.

    Above the mirror threshold lineitem and orders come from the same
    order-key bucketed mirrors as q21/q10/q4/q12 (sources/bucketed.py):
    the per-order sum reuses the lineitem mirror's bucketing and
    big⋈orders is a per-bucket shuffled-hash join built on `big` — no
    Exchange on either fact side, so there is nothing for the
    checkpoint probe to save and this path runs no probe jobs at all.
    Below the threshold, or with ``SPARK_GRAFT_NO_BUCKETED=1``, the
    two-phase form above runs unchanged."""
    mirrors = _order_key_mirrors(spark, sf_dir)
    if mirrors is None:
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders")
    else:
        li = spark.table(mirrors["lineitem"])
        o = spark.table(mirrors["orders"])
    c = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("sum_qty")
        )
        .filter(F.col("sum_qty") > 300)
    )
    if mirrors is None:
        # |big| ≤ one row per distinct l_orderkey ≤ |orders| (FK
        # contract), so the orders footer bounds the probe decision.
        bigj = _checkpointed_small(big, sf_dir, "orders")
    else:
        bigj = big.hint("shuffle_hash")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    top = (
        o.join(bigj, o.o_orderkey == bigj["l_orderkey"])
        .select(
            "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            "sum_qty",
        )
        .orderBy(cents.desc(), F.col("o_orderkey").asc())
        .limit(20)
    )
    return (
        top.join(c, top.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(cents.desc(), F.col("o_orderkey").asc())
    )


_Q21 = """
WITH ord AS (
    SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
), per_supp AS (
    SELECT /*+ SHUFFLE_HASH(ord) */ l_orderkey, l_suppkey,
           CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_rows
    FROM lineitem JOIN ord ON o_orderkey = l_orderkey
    GROUP BY l_orderkey, l_suppkey
), per_order AS (
    SELECT l_orderkey,
           count(*) AS n_supp,
           CAST(sum(CASE WHEN late_rows > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late_supp,
           max(CASE WHEN late_rows > 0 THEN l_suppkey END) AS sole_supp,
           max(CASE WHEN late_rows > 0 THEN late_rows END) AS sole_rows
    FROM per_supp GROUP BY l_orderkey
)
SELECT s_name, CAST(sum(sole_rows) AS BIGINT) AS numwait
FROM per_order
JOIN supplier ON s_suppkey = sole_supp
JOIN nation ON s_nationkey = n_nationkey
WHERE n_supp >= 2 AND n_late_supp = 1 AND n_name = 'NATION_1'
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""


@register("q_sql_q21_waiting_supplier", oracle=_Q21)
def q_sql_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order. "Late" is l_shipdate > o_orderdate +
    30 days (the slim schema has no commit/receipt dates — SURVEY §1.3).

    Written as the ONE-PASS grouped form (r6 VERDICT #1; the textbook
    EXISTS + NOT-EXISTS pair planned as semi + anti joins = three
    lineitem-sized exchanges and measured 9.1× vs DuckDB at ×100):
    lineitem joins orders once on l_orderkey, then per-(order, supplier)
    late-row counts and a per-order rollup — both aggregates reuse the
    join's hash partitioning on l_orderkey (orderkey ⊆ grouping keys ⇒
    no further exchange, verified in the ×100 plan: one codegen stage
    runs join + both aggregates), so the fact shuffles EXACTLY ONCE. The
    sole-late-shipper predicate becomes a filter on the rollup (n_supp ≥
    2, n_late_supp = 1); numwait = that supplier's late-row count,
    exactly the rows the correlated form counts. Verified value-identical
    to the EXISTS form in DuckDB at sf0.01 and sf0.1 (round 7).

    The SHUFFLE_HASH(ord) hint (a comment DuckDB executes as plain SQL)
    replaces the sort-merge join's two 60 M/7.5 M-row sorts with a
    per-partition hash build on the smaller filtered-orders side — ×100
    A/B: 4.35 → 3.48 s, DuckDB twin ~0.83 s either way, so the recorded
    ratio falls 9.1× → ~4.2×, below the query's own component floor
    (probe: join + both rollups alone = 2.79 s vs DuckDB 0.59 s = 4.7×;
    BASELINE.md round-7). At cluster scale the build side is F-orders
    within one shuffle partition — cluster_confs sizes partition counts
    from input bytes so the build fits, and AQE skew-split applies to
    SHJ as well.

    r16 optimization round (guide §2.4/§6, VERDICT r15 next-round #1):
    above the mirror threshold the Spark side reads the INGEST-TIME
    BUCKETED mirrors of lineitem and orders, co-clustered on the order
    key (sources/bucketed.py). Both rollups and the fact join then reuse
    the scan's bucket partitioning — ZERO fact exchanges (the r15
    sidecar's q_sql_q21_bucketed A/B, 3.88 → 2.13 s at ×100, promoted to
    the declared path); the SHUFFLE_HASH(ord) hint stays, so the join is
    a per-bucket shuffled-hash join with no Sort on either side. Same rows by
    construction (the mirror is the base table re-laid-out); the DuckDB
    oracle keeps the _Q21 text verbatim and the driver's hash gate plus
    tools/check.py --amplify prove equality. Below the threshold (every
    driver correctness SF) the r15 text runs unchanged."""
    mirrors = _order_key_mirrors(spark, sf_dir)
    if mirrors is None:
        return run_sql(spark, sf_dir, _Q21)
    sql = _Q21.replace("FROM orders", f"FROM {mirrors['orders']}").replace(
        "FROM lineitem JOIN ord", f"FROM {mirrors['lineitem']} JOIN ord"
    )
    return run_sql(spark, sf_dir, sql)


_CENTS_BAL = "CAST(round(c_acctbal * 100) AS BIGINT)"

_Q22 = f"""
SELECT c_nationkey AS cntry, count(*) AS numcust,
       round(CAST(CAST(sum({_CENTS_BAL}) AS BIGINT) AS DOUBLE) / 100, 2)
           AS totacctbal
FROM customer
WHERE c_nationkey IN (1, 3, 5, 7, 9)
  AND {_CENTS_BAL}
      * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
      > (SELECT CAST(sum({_CENTS_BAL}) AS BIGINT)
         FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@register("q_sql_q22_dormant_balance", oracle=_Q22)
def q_sql_q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers with no recent orders, by
    country — two uncorrelated scalar subqueries (count + sum broadcast
    once) and a correlated NOT EXISTS (left-anti join on o_custkey). The
    above-average test is cross-multiplied into exact cents integers
    (cents·n > Σcents) — no float average, no rounding boundary. The
    recency window replaces the original's "no orders at all" (which is
    near-empty on these fixtures); DuckDB's HUGEINT sum is cast back to
    BIGINT per the §1.3 contract."""
    return run_sql(spark, sf_dir, _Q22)


_Q2 = """
WITH eus AS (
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
), fp AS (
    SELECT p_partkey, p_name FROM part
    WHERE p_size = 15 AND p_type = 'ECONOMY'
), offers AS (
    SELECT /*+ SHUFFLE_HASH(eus) */ l_partkey, l_suppkey, s_name,
           min(CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT))
               AS unit_cents
    FROM lineitem
    JOIN fp  ON l_partkey = p_partkey
    JOIN eus ON l_suppkey = s_suppkey
    GROUP BY l_partkey, l_suppkey, s_name
), ranked AS (
    SELECT o.l_partkey AS p_partkey, fp.p_name,
           o.l_suppkey AS s_suppkey, o.s_name, o.unit_cents,
           min(o.unit_cents) OVER (PARTITION BY o.l_partkey) AS min_cents
    FROM offers o JOIN fp ON o.l_partkey = fp.p_partkey
)
SELECT p_partkey, p_name, s_suppkey, s_name, unit_cents
FROM ranked
WHERE unit_cents = min_cents
ORDER BY p_partkey ASC, s_suppkey ASC
LIMIT 100
"""


@register("q_sql_q2_min_cost_supplier", oracle=_Q2)
def q_sql_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest regional supplier per part — the slim
    schema has no partsupp, so observed unit prices from lineitem stand in
    (min cents-per-unit per (part, supplier); one double divide + round,
    same IEEE sequence both engines).

    Written as a window min over the region-restricted offer rows, not the
    classic correlated scalar subquery: the correlated form re-traverses
    the offers CTE, and Spark inlines CTEs — lineitem was aggregated TWICE
    (the decorrelated aggregate-join re-scans it). The window form
    aggregates lineitem once and min-partitions by part key.

    r7 (found by the full-family ×100 sweep): BOTH selective filters are
    applied BEFORE the fact aggregation. The EU supplier set restricts
    which offers exist (the window min ranges over EU offers only — same
    set the old region join kept, now pruning the aggregation input),
    and the part predicate restricts which PARTITIONS are computed at
    all: each part's regional minimum depends only on its own offers, so
    dropping non-matching parts before the window leaves every surviving
    partition's min untouched (Catalyst cannot derive this itself — a
    non-partition-key predicate never pushes below a Window). ×100 A/B:
    6.40 → 0.85 s, DuckDB 1.36 → 0.19 s on the same text;
    property-tested against the filter-above-window form on randomized
    corpora (tests/test_rewrite_equivalence.py)."""
    return run_sql(spark, sf_dir, _Q2)


_Q9 = f"""
SELECT n_name AS supp_nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {_REV} AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY supp_nation, o_year
ORDER BY supp_nation ASC, o_year DESC
"""


@register("q_sql_q9_product_profit", oracle=_Q9)
def q_sql_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    matching a name substring (no ps_supplycost on the slim schema —
    profit is discounted revenue). The LIKE filter prunes the part build
    side before the fact join; the 5-way join shares one l_orderkey /
    l_suppkey / l_partkey shuffle chain."""
    return run_sql(spark, sf_dir, _Q9)


_Q11 = f"""
WITH pv AS (
    SELECT l_partkey, CAST(sum({_EP}) AS BIGINT) AS val
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
    GROUP BY l_partkey
)
SELECT p_key, value FROM (
    SELECT l_partkey AS p_key, round(CAST(val AS DOUBLE) / 100, 2) AS value,
           val, CAST(sum(val) OVER () AS BIGINT) AS tot
    FROM pv)
WHERE val * 1000 > tot
ORDER BY val DESC, p_key ASC
"""


@register("q_sql_q11_important_parts", oracle=_Q11)
def q_sql_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose single-nation traded value exceeds
    0.1% of that nation's total — share-of-total via ``sum() OVER ()`` on
    the grouped CTE instead of a scalar-sum subquery: Spark inlines
    deterministic CTEs, so the subquery form re-ran the lineitem⋈supplier
    ⋈nation aggregation. The single-partition window passes |parts in one
    nation| grouped rows through one task — far below a second full fact
    aggregation. Cross-multiplied into exact cents (val·1000 > Σval: no
    float threshold; the window sum is HUGEINT in DuckDB, hence the CAST
    for BIGINT parity)."""
    return run_sql(spark, sf_dir, _Q11)


_Q12 = """
SELECT l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag IN ('A', 'N')
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY ship_class
ORDER BY ship_class
"""


@register("q_sql_q12_priority_by_class", oracle=_Q12)
def q_sql_q12_priority_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: urgent vs non-urgent order counts per shipment
    class (returnflag stands in for the absent shipmode column) — join +
    dual conditional count, computed in ONE pass over the join output
    (map-side partials; no second scan for the second counter).

    r16 (guide §2.4/§6): above the mirror threshold both sides come from
    the ingest-time order-key bucketed mirrors (sources/bucketed.py) —
    the one fact join is a per-bucket shuffled-hash join on the
    co-bucketed scans, pinned by SHUFFLE_HASH on the orders mirror
    (unhinted, the planner broadcasts the whole orders mirror: a
    driver-side collect and hash build that grows with SF); only the
    2-group aggregate shuffles. Oracle text verbatim; below the threshold
    the r15 text runs unchanged."""
    mirrors = _order_key_mirrors(spark, sf_dir)
    if mirrors is None:
        return run_sql(spark, sf_dir, _Q12)
    sql = _Q12.replace(
        "SELECT l_returnflag",
        f"SELECT /*+ SHUFFLE_HASH({mirrors['orders']}) */ l_returnflag",
    ).replace(
        "FROM orders JOIN lineitem",
        f"FROM {mirrors['orders']} JOIN {mirrors['lineitem']}",
    )
    return run_sql(spark, sf_dir, sql)


_Q16 = """
WITH fp AS (
    SELECT p_partkey, p_brand, p_type, p_size FROM part
    WHERE p_brand <> 'Brand#45'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
),
pairs AS (
    SELECT /*+ BROADCAST(fp) */ DISTINCT l_partkey, l_suppkey
    FROM lineitem JOIN fp ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
)
SELECT /*+ BROADCAST(fp) */ p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs JOIN fp ON l_partkey = p_partkey
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


@register("q_sql_q16_supplier_cnt", oracle=_Q16)
def q_sql_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, type, size)
    excluding a brand, a type prefix, and blacklisted suppliers (negative
    balance stands in for the complaints filter). NOT IN over a non-null
    key column plans as a null-aware anti join; count(DISTINCT) expands to
    a two-level aggregate — both engines agree exactly on counts.

    r8 (r7 verdict #3 — kill the string-keyed distinct riding the fact):
    the fact is deduplicated to DISTINCT (l_partkey, l_suppkey) FIRST —
    integer keys only, map-side partial dedup collapses the ~30 lines per
    (part, supplier) before the exchange — and the (brand, type, size)
    strings are re-attached AFTER, to the ~2 M deduped pairs instead of
    every fact row. Counting distinct suppliers per triple over the pair
    set is value-identical because fp maps partkey → triple functionally
    (equivalence-tested vs the canonical join-then-count-distinct form on
    25 random corpora). ×100 A/B: 2.97 → 2.19 s; the same text slows the
    DuckDB twin 0.285 → 0.402 s (it folded the old form to this shape
    already), same-text ratio 10.4× → 5.4×, sitting on the recorded
    q16_fact_2col scan+dedup floor (BASELINE.md round-8). BROADCAST(fp)
    keeps the fact exchange-free for the label joins at the measured
    regime (fp ≈ 12 % of part); at a dim scale past broadcastability the
    hint flips to SHUFFLE_HASH — A/B'd at 2.94 s, still under the old
    form.

    r16 optimization round (guide §2.4/§6): above the mirror threshold
    the fact is read from the ingest-time mirror BUCKETED ON l_partkey
    (sources/bucketed.py) — HashPartitioning(l_partkey) satisfies the
    DISTINCT's ClusteredDistribution(l_partkey, l_suppkey) (clustering
    on a key subset co-locates every pair), so the pair-dedup exchange
    that r15 pinned as the query's residual cost (bare shape 5.3× vs
    DuckDB) disappears; only the tiny post-dedup triple aggregate still
    shuffles. Oracle text verbatim; below the threshold the r15 text
    runs unchanged."""
    from cuny_courses_spark.sources.bucketed import clustered_view

    li = clustered_view(spark, sf_dir, "lineitem", "l_partkey")
    if li == "lineitem":
        return run_sql(spark, sf_dir, _Q16)
    return run_sql(
        spark, sf_dir, _Q16.replace("FROM lineitem JOIN fp", f"FROM {li} JOIN fp")
    )


_Q20 = """
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2'
  AND s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%red%'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 50)
ORDER BY s_suppkey
"""


@register("q_sql_q20_excess_shippers", oracle=_Q20)
def q_sql_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who moved > 50 units of
    name-matched parts in a year (shipped quantity stands in for the
    absent partsupp availability). IN-over-grouped-HAVING plans as an
    aggregate then left-semi join; quantity sums are integer-exact."""
    return run_sql(spark, sf_dir, _Q20)
