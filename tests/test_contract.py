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


def _package_calls():
    """``(file, source, calls)`` of every package file, where ``calls``
    lists the ``(innermost enclosing function, callee name)`` of every
    call in it, parsed with ``ast``."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "cuny_courses_spark"

    def calls(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from calls(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                yield fn, getattr(f, "id", None) or getattr(f, "attr", None)
            yield from calls(child, fn)

    for p in root.rglob("*.py"):
        text = p.read_text()
        yield p.relative_to(root).as_posix(), text, calls(ast.parse(text), None)


def test_layout_rule_lives_only_in_layout_col():
    """The lakehouse's physical layout rule (partition spec, else
    ``bucket_expr``, else the key hash) has one implementation,
    ``lakehouse._layout_col``. A call of ``_bucket_of`` or
    ``_pspec_expr`` anywhere else in the package is a writer
    re-deriving the rule by hand, which is how a writer ends up
    placing rows or DVs in a different bucket than the files holding
    their keys."""
    callers = set()
    for path, text, calls in _package_calls():
        assert "_layout_bucket_exprs" not in text, path
        for fn, name in calls:
            if name in ("_bucket_of", "_pspec_expr"):
                callers.add((path, fn, name))
    assert callers == {
        ("operators/lakehouse.py", "_layout_col", "_bucket_of"),
        ("operators/lakehouse.py", "_layout_col", "_pspec_expr"),
    }, sorted(callers)


def test_write_batch_checks_live_only_in_admit_batch():
    """Every lakehouse writer admits its batch through
    ``lakehouse._admit_batch``: generated columns, CHECK constraints and
    the dropped-name guard are called from there only, so a writer
    cannot skip one by skipping a wrapper; no commit-scoped
    ``props_update`` overlay bypasses it; and data files are written
    only through ``_write_layout``, the one layout rule."""
    checks = (
        "_apply_generated", "_validate_constraints", "_refuse_dropped",
        "_write_buckets",
    )
    callers = set()
    for path, text, calls in _package_calls():
        assert "props_update" not in text, path
        for fn, name in calls:
            if name in checks:
                callers.add((path, fn, name))
    assert callers == {
        ("operators/lakehouse.py", "_admit_batch", "_apply_generated"),
        ("operators/lakehouse.py", "_admit_batch", "_validate_constraints"),
        ("operators/lakehouse.py", "_admit_batch", "_refuse_dropped"),
        ("operators/lakehouse.py", "_write_layout", "_write_buckets"),
    }, sorted(callers)
