"""q_join_dpp's o_year-partitioned copy is published whole, once per
content signature of orders.parquet: a killed write or a dead builder's
staging directory is never read."""

from __future__ import annotations

import os
import shutil
import subprocess

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_q_join_dpp_never_reads_a_half_written_copy(spark, tmp_path, monkeypatch):
    from cuny_courses_spark.operators.joins import q_join_dpp
    from cuny_courses_spark.operators.scans import _io_dir
    from cuny_courses_spark.sources.loaders import load

    monkeypatch.setenv("SPARK_GRAFT_NO_PLAN_CACHE", "1")
    sf = str(tmp_path)
    shutil.copy(f"{SF_DIR}/orders.parquet", sf)
    root = _io_dir(sf, "")
    expected = sorted(
        tuple(r)
        for r in load(spark, sf, "orders")
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.col("o_orderstatus").alias("status"),
        )
        .filter(F.col("o_year").isin(1996, 1997))
        .groupBy("o_year", "status")
        .count()
        .collect()
    )
    assert expected
    try:
        # A write killed before job commit leaves only _temporary/ behind,
        # at the path a path-keyed copy would trust.
        os.makedirs(f"{_io_dir(sf, 'orders_dpp')}/_temporary")
        assert sorted(tuple(r) for r in q_join_dpp(spark, sf).collect()) == expected
        (published,) = [p for p in os.listdir(root) if p.startswith("orders_dpp_")]
        shutil.rmtree(f"{root}/{published}")
        # A dead builder's staging dir under the target's name, holding a
        # readable but wrong partition.
        part = f"{root}/.{published}.{_dead_pid()}.abcd1234/o_year=1996"
        os.makedirs(part)
        pq.write_table(
            pa.table({"o_orderkey": [1], "o_orderstatus": ["X"]}),
            f"{part}/part-00000.parquet",
        )
        assert sorted(tuple(r) for r in q_join_dpp(spark, sf).collect()) == expected
        assert published in os.listdir(root)
        assert not [p for p in os.listdir(root) if p.startswith(".orders_dpp_")]
    finally:
        shutil.rmtree(root, ignore_errors=True)
