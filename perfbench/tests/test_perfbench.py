"""Fast tests of the benchmark itself, on the sf0.001 corpus with one round
or cycle per window. Run: ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(1, os.path.dirname(BENCH))

import corpus  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402

SF = 0.001


def _spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(wl.WORKLOADS)


def _printed(capsys, result, trace):
    line = run.report(result, trace)
    text = capsys.readouterr().out.splitlines()
    assert json.loads(text[-1]) == line
    return {ln.split()[0]: ln.split()[2] for ln in text[:-1]}, line


@pytest.mark.parametrize("workload", ["short_sf0.1", "ingest_x10"])
def test_every_metric_printed_with_unit(capsys, workload):
    result = run.run_workload(workload, 1, 0.0, True, sf=SF)
    assert result["failed"] == 0
    for trace, names in ((False, run.END_TO_END), (True, run.PER_LAYER)):
        printed, line = _printed(capsys, result, trace)
        assert set(line["metrics"]) == set(names)
        for name, unit in names.items():
            assert printed[name] == unit
            assert line["metrics"][name]["unit"] == unit
    assert result["metrics"]["setup_s"][0] > 0
    assert result["metrics"]["query_p50_s"][0] > 0


@pytest.mark.parametrize("workload,corrupt", [
    ("short_sf0.1", frozenset({"q_agg_groupby"})),
    ("ingest_x10", frozenset({"ingest"})),
])
def test_injected_wrong_result_raises_fail_frac(workload, corrupt):
    result = run.run_workload(workload, 1, 0.0, False, sf=SF, corrupt=corrupt)
    assert result["failed"] >= 1
    assert result["metrics"]["fail_frac"][0] > 0


class _FakeDF:
    def toArrow(self):
        return pa.table({"x": [1]})


class _FakeSession:
    spark = None
    queries = {name: (lambda spark, sf_dir: _FakeDF()) for name in wl.SHORT.queries}


def _sequence(seed):
    qr = wl.QueryRun(wl.SHORT, _FakeSession(), "unused")
    return [o.name for o in qr.window(seed, 2, wl.Loop()).ops]


def test_seed_changes_sequence_not_corpus():
    assert _sequence(1) == _sequence(1)
    assert _sequence(1) != _sequence(2)
    assert sorted(_sequence(1)) == sorted(_sequence(2))  # same multiset per round
    # The corpus has no seed input; the ingest changesets do.
    base = corpus.base(SF)
    assert wl.query_corpus(wl.SHORT, SF) == base
    scaled = corpus.scaled(SF, wl.INGEST_FACTOR)
    args = (wl.ingest_cycles(0.0), wl.UPSERT_FRAC, wl.DELETE_FRAC, wl.APPEND_FRAC, wl.APPENDS)
    c1, c2 = corpus.changesets(scaled, 1, *args), corpus.changesets(scaled, 2, *args)
    assert c1 != c2
    assert corpus.changesets(scaled, 1, *args) == c1
    first = [pq.read_table(os.path.join(d, "c0_delete.parquet")) for d in (c1, c2)]
    assert not first[0].equals(first[1])


def test_ingest_stops_when_changesets_run_out():
    session = _FakeSession()
    session.run_dir = "unused"
    run_ = wl.IngestRun(session, "unused", "unused", cycles=0)
    with pytest.raises(RuntimeError, match="changeset cycles used"):
        run_.window(1, wl.Loop())
    assert wl.ingest_cycles(60.0) > wl.ingest_cycles(10.0) >= 2


def test_window_size_is_fixed_per_workload():
    assert wl.window_units("heavy_x7", 0.0) == 1
    assert wl.window_units("heavy_x7", 24.0) == 2
    assert wl.window_units(wl.INGEST, 24.0) == 1
