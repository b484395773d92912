"""Shared fixtures: one warm SparkSession + DuckDB oracle per test session.

SF_DIR defaults to sf0.001 for speed (documents/embeddings are identical to
sf0.01 there); set CCS_TEST_SF=/root/testdata/sf0.01 to mirror the driver's
correctness gate exactly (tools/check.py does that by default).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CCS_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from cuny_courses_spark.session import get_session

    s = get_session("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    from cuny_courses_spark.oracle import duck_con

    return duck_con(SF_DIR)


@pytest.fixture()
def mirror_enabled(monkeypatch):
    """The bucketed-mirror path forced on at test scale (threshold 0)."""
    import cuny_courses_spark.sources.bucketed as bucketed

    monkeypatch.setattr(bucketed, "_MIN_MIRROR_ROWS", 0)
    monkeypatch.delenv("SPARK_GRAFT_NO_BUCKETED", raising=False)
    # The analyzed-plan memo keys on (name, sf_dir, content-sig) — it
    # cannot see this fixture's threshold patch, so a previously cached
    # plain-path plan would mask the mirror path (and vice versa).
    monkeypatch.setenv("SPARK_GRAFT_NO_PLAN_CACHE", "1")
    yield bucketed
