"""bench.py's method contract in pure Python: the compact line built from a
synthetic detail record, and measure() driven by fake callables on a fake
clock. No Spark session."""

from __future__ import annotations

import json

import pytest

import bench

R16_KEYS = (
    "metric value unit queries cpus master sf duckdb_suite_sec ratio_vs_duckdb "
    "jobs_per_query empty_job_sec sweep_ratios sweep_query_ratios_top_point "
    "ext_ratios_top_point detail"
).split()
DROP_ORDER = ["sweep_query_ratios_top_point", "jobs_per_query", "ext_ratios_top_point"]


def _detail(n_queries: int = 6, n_ext: int = 0) -> dict:
    queries = {f"q_head_{i}": 0.1 + i / 100 for i in range(n_queries)}
    sweep = [
        {"point": p, "spark_sec": 1.0, "duckdb_sec": 2.0, "ratio": 0.5,
         "spark_queries": {"q_a": 0.5, "q_b": 0.5}, "duckdb_queries": {"q_a": 1.0, "q_b": 1.0}}
        for p in ("sf0.01", "sf0.1", "sf0.1x10")
    ]
    sweep.append({"point": "sf0.1x100", "spark_sec": None, "duckdb_sec": None, "ratio": None,
                  "spark_queries": {"q_a": bench.BUDGET}, "duckdb_queries": {}})
    top = {
        "q_both": 2.0, "q_both_duckdb": 0.5, "q_both_laps": [2.0, 2.1],
        "q_twin_skipped": 27.8, "q_twin_skipped_duckdb": "skipped: duckdb spills >60GB at this factor",
        "q_twin_error": 3.0, "q_twin_error_duckdb": "error: IOException",
        "q_engine_error": "error: Py4JJavaError", "q_engine_error_duckdb": 0.3,
        "q_engine_only": 4.25,
        "q_budget": bench.BUDGET, "q_budget_duckdb": bench.BUDGET,
        "q_lsh": 1.5, "q_lsh_duckdb": 1.0, "q_lsh_pairs": 7, "q_lsh_duckdb_pairs": 7,
    }
    top.update({f"q_extra_{i}": 1.0 for i in range(n_ext)})
    return {
        "metric": "suite_wall_sec", "value": round(sum(queries.values()), 4), "unit": "sec",
        "queries": queries, "cpus": "*", "master": "local[4]", "sf": 0.1,
        "duckdb_suite_sec": 0.2, "ratio_vs_duckdb": 3.0,
        "jobs_per_query": {q: 2 for q in queries}, "empty_job_sec": 0.1,
        "sweep": sweep,
        "extended_sweep": {
            "sf0.1x100": top,
            "sf0.1x10": {"q_both": 1.0, "q_both_duckdb": 1.0},
        },
    }


def test_compact_line_keys_and_marker_rule():
    line = bench.compact(_detail())
    c = json.loads(line)
    assert len(line) <= 1900
    assert list(c) == R16_KEYS
    assert c["detail"] == bench.SIDECAR
    assert c["sweep_ratios"] == {"sf0.01": 0.5, "sf0.1": 0.5, "sf0.1x10": 0.5, "sf0.1x100": None}
    # the top sweep point with both engines' numbers, not the budget-skipped one
    assert c["sweep_query_ratios_top_point"] == {
        "point": "sf0.1x10", "ratios": {"q_a": 0.5, "q_b": 0.5}, "worst": 0.5}
    assert c["ext_ratios_top_point"] == {
        "q_both": 4.0,
        "q_twin_skipped": "skipped",  # never the engine's 27.8 s read as a ratio
        "q_twin_error": "error",
        "q_engine_error": "error",
        "q_engine_only": 4.25,  # no twin by design: engine seconds
        "q_budget": "skipped",
        "q_lsh": 1.5,
        "point": "sf0.1x100",
    }


def test_ext_ratios_skip_a_point_without_numbers():
    d = _detail()
    d["extended_sweep"]["sf0.1x100"] = {"q_both": bench.BUDGET, "q_both_duckdb": bench.BUDGET}
    assert bench._ext_ratios(d["extended_sweep"]) == {"q_both": 1.0, "point": "sf0.1x10"}


def test_compact_line_trims_in_the_stated_order():
    seen = []
    for n_ext in (0, 60, 90, 150):
        line = bench.compact(_detail(n_ext=n_ext))
        c = json.loads(line)
        assert len(line) <= 1900
        trimmed = c.get("trimmed_to_sidecar", [])
        assert trimmed == DROP_ORDER[: len(trimmed)]
        assert list(c) == [k for k in R16_KEYS if k not in trimmed] + (
            ["trimmed_to_sidecar"] if trimmed else [])
        seen.append(len(trimmed))
    assert seen == sorted(seen) and seen[0] == 0 and seen[-1] == 3


def test_compact_line_falls_back_to_headline_fields():
    line = bench.compact(_detail(n_queries=120))
    c = json.loads(line)
    assert len(line) <= 1900
    assert c == {
        "metric": "suite_wall_sec", "value": c["value"], "unit": "sec", "sf": 0.1,
        "duckdb_suite_sec": 0.2, "ratio_vs_duckdb": 3.0,
        "trimmed_to_sidecar": ["all_detail_fields"], "detail": bench.SIDECAR,
    }


class _Clock:
    def __init__(self):
        self.t = 0.0

    def perf_counter(self) -> float:
        return self.t


@pytest.fixture
def clock(monkeypatch):
    c = _Clock()
    monkeypatch.setattr(bench.time, "perf_counter", c.perf_counter)
    return c


def _fake(clock, durations, fail_at=None):
    """A query whose i-th call takes durations[i] seconds on ``clock``."""
    calls = []

    class Frame:
        def toArrow(self):
            i = len(calls)
            calls.append(i)
            if i == fail_at:
                raise ValueError("boom")
            clock.t += durations[i]
            return [0] * 3

    return (lambda spark, d: Frame()), calls


def _entry(fn, laps, factor=1, twin=None):
    return bench.Entry("q_fake", "ext", "p", fn, laps, "scaled", factor, twin)


def _budget(sec, clock):
    b = bench.Budget(sec)
    b.start()
    return b


def test_measure_best_rule(clock):
    fn, calls = _fake(clock, [5.0, 3.0, 1.0, 2.0])
    r = bench.measure(None, _entry(fn, bench.Laps(3)), lambda e: "/d", _budget(100, clock))
    assert len(calls) == 4  # one warm lap, three timed
    assert r.sec == 1.0 and r.laps == [3.0, 1.0, 2.0] and r.rows == 3
    assert r.twin is None


def test_measure_trimmed_rule_runs_extra_laps_while_the_budget_lasts(clock):
    durations = [9.0, 4.0, 2.0, 3.0, 1.0, 8.0]
    laps = bench.Laps(3, warm=0, extra=3, rule="trimmed")
    fn, _ = _fake(clock, durations)
    r = bench.measure(None, _entry(fn, laps, factor=100), lambda e: "/d", _budget(100, clock))
    assert r.laps == durations
    assert r.sec == 2.5  # slowest two dropped, median of [1, 2, 3, 4]
    # past the budget after the mandatory laps: no extra lap runs
    clock.t = 0.0
    fn, calls = _fake(clock, durations)
    r = bench.measure(None, _entry(fn, laps, factor=100), lambda e: "/d", _budget(10, clock))
    assert len(calls) == 3 and r.sec == bench._trimmed_median(durations[:3])


def test_measure_budget_skip_builds_no_corpus(clock):
    fn, calls = _fake(clock, [1.0])
    located = []
    b = _budget(10, clock)
    clock.t = 11.0
    e = _entry(fn, bench.Laps(3), factor=10, twin="SELECT 1")
    r = bench.measure(None, e, located.append, b)
    assert (r.sec, r.twin) == (bench.BUDGET, bench.BUDGET)
    assert not calls and not located
    # the headline suite (factor 1) is never budget-guarded
    r = bench.measure(None, _entry(fn, bench.Laps(1, warm=0)), lambda e: "/d", b)
    assert r.sec == 1.0


def test_measure_error_and_skip_markers(clock):
    fn, _ = _fake(clock, [1.0, 1.0], fail_at=1)
    e = _entry(fn, bench.Laps(3), twin=bench.Skip("duckdb spills >60GB at this factor"))
    r = bench.measure(None, e, lambda e: "/d", _budget(100, clock))
    assert r.sec == "error: ValueError"
    assert r.twin == "skipped: duckdb spills >60GB at this factor"
    r = bench.measure(None, e, lambda e: None, _budget(100, clock))
    assert r.sec == "skipped: layout synthesis failed"
