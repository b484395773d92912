"""The engine-owned session's launch-time settings (session.get_session)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from cuny_courses_spark import session

# Ten TPC-H shapes whose generated classes overflow Spark's default codegen
# cache of 100 entries: a fresh session compiles 197 classes for one round
# of them at sf0.001 (206 under the default cache, whose round 2 then
# recompiles 192). The seven heavy_x7 shapes alone compile at most 114,
# too close to 100 to show the eviction reliably.
MIX = (
    "q_sql_q21_waiting_supplier", "q_sql_q13_cust_distribution",
    "q_sql_q10_returned_topk", "q_sql_q4_priority_exists",
    "q_sql_q12_priority_by_class", "q_sql_q3_shipping_priority",
    "q_sql_q18_volume_customer", "q_sql_q2_min_cost_supplier",
    "q_sql_q5_local_volume", "q_sql_q16_supplier_cnt",
)


def test_runtime_confs_are_runtime_settable(spark):
    """configure() applies RUNTIME_CONFS with spark.conf.set and swallows
    failures, so a static conf listed there would silently do nothing on a
    driver-owned session. Launch-time confs belong in get_session()."""
    static = [k for k in session.RUNTIME_CONFS if not spark.conf.isModifiable(k)]
    assert static == []
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )


def test_query_mix_keeps_its_generated_classes(tmp_path):
    """A second round of the same query mix reuses every generated class
    of the first: with Spark's default cache of 100 entries the mix evicts
    its own classes and round 2 recompiles them. Runs in a fresh process,
    because the shared pytest session's cache already holds classes from
    other tests and would hide round 1's count."""
    from tests.conftest import SF_DIR

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import json, sys

        sys.path.insert(0, {repo!r})
        from cuny_courses_spark import registry
        from cuny_courses_spark.session import compiled_classes, get_session

        spark = get_session("codegen_cache_test")
        spark.sparkContext.setLogLevel("ERROR")
        qs = registry.queries()
        rounds = []
        for _ in range(2):
            before = compiled_classes(spark)
            for name in {MIX!r}:
                qs[name](spark, {SF_DIR!r}).toArrow()
            rounds.append(compiled_classes(spark) - before)
        print("ROUNDS " + json.dumps(rounds))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("ROUNDS ")]
    assert lines, out.stderr[-4000:]
    first, second = json.loads(lines[-1][len("ROUNDS "):])
    assert first > 100, first
    assert second == 0, (first, second)
