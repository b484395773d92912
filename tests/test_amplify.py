"""amplify.py: the publish step every amplified corpus goes through, and
the key-shift contract of scaled_layout. No Spark session."""

from __future__ import annotations

import os
import shutil
import subprocess
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

import amplify
from cuny_courses_spark import lakeformat
from tests.conftest import SF_DIR as SRC


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(amplify, "ROOT", tmp_path)
    return tmp_path


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_unpublished_temp_dir_is_never_adopted(root):
    out = Path(amplify.scaled_docs_layout(SRC, 2))
    assert out.parent == root
    n = pq.read_metadata(f"{SRC}/documents.parquet").num_rows
    # A builder that died mid-write, and one still writing, leave temp dirs
    # holding a truncated file under the target's name.
    shutil.rmtree(out)
    dead = root / f".{out.name}.{_dead_pid()}.abcd1234"
    live = root / f".{out.name}.{os.getpid()}.efgh5678"
    for tmp in (dead, live):
        tmp.mkdir()
        (tmp / "documents.parquet").write_bytes(b"PAR1 truncated")
    again = Path(amplify.scaled_docs_layout(SRC, 2))
    assert again == out
    assert pq.read_metadata(out / "documents.parquet").num_rows == 2 * n
    assert not dead.exists(), "a dead builder's temp dir is cleaned up"
    assert (live / "documents.parquet").read_bytes() == b"PAR1 truncated"


def test_second_builder_returns_published_layout_without_writing(root, monkeypatch):
    out = amplify.scaled_layout(SRC, 2)
    assert out != SRC
    stamps = {f.name: f.stat().st_mtime_ns for f in Path(out).iterdir()}

    def no_write(*a, **k):
        raise AssertionError("a published layout was rewritten")

    monkeypatch.setattr(pq, "ParquetWriter", no_write)
    monkeypatch.setattr(pq, "write_table", no_write)
    assert amplify.scaled_layout(SRC, 2) == out
    assert {f.name: f.stat().st_mtime_ns for f in Path(out).iterdir()} == stamps
    assert [p.name for p in root.iterdir()] == [Path(out).name]


def test_builder_that_loses_the_race_discards_its_copy(root):
    winner = root / "fam_sig"

    def build(tmp: Path) -> None:
        (tmp / "mine").write_text("loser")
        winner.mkdir()  # another process publishes while this one builds
        (winner / "theirs").write_text("winner")

    assert lakeformat.publish_dir(root, "fam", "sig", build) == winner
    assert [p.name for p in winner.iterdir()] == ["theirs"]
    assert [p.name for p in root.iterdir()] == ["fam_sig"]


def test_scaled_layout_replicas_are_key_shifted_and_join_consistent(root):
    out = amplify.scaled_layout(SRC, 2)
    assert out != SRC
    for name, keys in amplify._SCALE_KEYS.items():
        src = pq.read_table(f"{SRC}/{name}.parquet")
        t = pq.read_table(f"{out}/{name}.parquet")
        n = src.num_rows
        assert t.num_rows == 2 * n, name
        for k in keys:
            base = src.column(k).to_pylist()
            col = t.column(k).to_pylist()
            assert col[:n] == base, (name, k)
            assert col[n:] == [v + amplify.KEY_SHIFT for v in base], (name, k)
    join = "SELECT count(*) FROM '{d}/lineitem.parquet' JOIN '{d}/orders.parquet' ON l_orderkey = o_orderkey"
    con = duckdb.connect()
    (base_n,) = con.execute(join.format(d=SRC)).fetchone()
    (amp_n,) = con.execute(join.format(d=out)).fetchone()
    assert base_n > 0 and amp_n == 2 * base_n
