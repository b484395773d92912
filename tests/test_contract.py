"""Driver-contract shape tests (SURVEY §5.2): entry smoke, registry
completeness, schema contract of the testdata loaders."""

from __future__ import annotations

import pytest

from cuny_courses_spark.sources.loaders import TABLES, validate_schema
from tests.conftest import SF_DIR


def test_entry_smoke(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {f.name for f in df.schema.fields} >= {
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "count_order",
    }


def test_registry_shapes():
    import __spark_entry__ as em

    qs, osql = em.queries(), em.oracle_sql()
    assert len(qs) >= 60
    assert set(osql) <= set(qs)
    # Every query is oracle-checked. r3 verdict #4 converted the former 7
    # sketch/LSH entries into oracle-checkable tolerance certificates;
    # r4 verdict #6 gave watermark_late a real replay-expectation oracle
    # (the deterministic replay makes its expected sink SQL-expressible).
    rows_only = set(qs) - set(osql)
    assert rows_only == set()


@pytest.mark.parametrize("table", TABLES)
def test_loader_schema_contract(spark, table):
    validate_schema(spark, SF_DIR, table)


def test_link_claim_lives_only_in_lakeformat():
    """The lakehouse format's link(2) first-committer-wins claim has one
    implementation, ``cuny_courses_spark/lakeformat.py``. A second
    ``os.link(`` elsewhere in the package is a fork of the commit
    protocol that can drift from it."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "cuny_courses_spark"
    hits = sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if "os.link(" in p.read_text()
    )
    assert hits == ["lakeformat.py"], hits
