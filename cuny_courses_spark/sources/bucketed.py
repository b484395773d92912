"""Bucketed mirrors: a source table's rows, bucketed on one join key.

Contract:

- Threshold: a table below ``_MIN_MIRROR_ROWS`` rows (parquet footers)
  is never mirrored; its callers run their plain SQL text.
- Signature: a mirror is named ``ccs_bkt_<table>_<key>_<source path
  hash>_<sig>``, where ``sig`` covers the source files' names, sizes and
  mtimes, the bucket count (~256 MB of source per bucket, floor 32) and
  the mirror format tag. Regenerated data never serves a stale mirror.
- Publish and adopt: the first process to ask writes one file per bucket
  into a staging directory of the warehouse, and
  ``lakeformat.publish_dir`` renames it into place whole. Every process,
  the builder included, then registers the published directory as an
  external bucketed table. A later process adopts it without writing.
  Publishing removes the family's other signatures and the staging
  directories of dead builders.
- Kill switch: ``SPARK_GRAFT_NO_BUCKETED=1`` returns the plain name.
- Failure: any error returns the plain name, so adopters run their plain
  SQL text with the same rows.

Two mirrors bucketed on the same key with the same bucket count join
bucket by bucket with no Exchange. The mirrors are unsorted: Spark reads
a bucket's sort order only under a legacy conf that is never set here.
"""

from __future__ import annotations

import glob
import os
import uuid
from urllib.parse import urlparse

from pyspark.sql import SparkSession

from cuny_courses_spark.lakeformat import content_signature, publish_dir, source_key

# Below this the exchange a mirror would remove is sub-dispatch-floor
# (and the driver's small-SF correctness gates keep exercising the plain
# path): sf0.1's largest table is 600 k rows — plain; the ×10 amplified
# point (orders 1.5 M / lineitem 6 M) and everything above — mirrored.
_MIN_MIRROR_ROWS = 1_000_000

# (application id, mirror name) pairs registered in this process.
_KNOWN: set[tuple[str, str]] = set()


def _table_files(sf_dir: str, table: str) -> list[str]:
    path = f"{sf_dir}/{table}.parquet"
    return sorted(glob.glob(path) or glob.glob(f"{path}/*.parquet"))


def _source_stats(sf_dir: str, table: str) -> tuple[int, int] | None:
    """(rows, bytes) from parquet footers of ``table`` — metadata only."""
    import pyarrow.parquet as pq

    files = _table_files(sf_dir, table)
    if not files:
        return None
    try:
        rows = sum(pq.ParquetFile(m).metadata.num_rows for m in files)
        return rows, sum(os.path.getsize(m) for m in files)
    except OSError:
        return None


def _warehouse(spark: SparkSession) -> str:
    url = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if url.scheme not in ("", "file"):
        raise ValueError(f"mirrors publish to a local warehouse, not {url.scheme}")
    return url.path


def clustered_view(
    spark: SparkSession, sf_dir: str, table: str, key: str
) -> str:
    """Name of a bucketed-by-``key`` mirror of ``table`` over ``sf_dir``,
    publishing it on first use — or the plain view name ``table`` when the
    mirror is unavailable (small input, disabled, or any failure).

    Callers substitute the returned name into their SQL text only when it
    differs from ``table``; the DuckDB oracle text always keeps the plain
    name (same rows either way — the driver's hash gate proves it)."""
    if os.environ.get("SPARK_GRAFT_NO_BUCKETED", "") == "1":
        return table
    try:
        stats = _source_stats(sf_dir, table)
        if stats is None or stats[0] < _MIN_MIRROR_ROWS:
            return table
        n = max(32, stats[1] // (256 << 20))
        family = f"ccs_bkt_{table}_{key}_{source_key(sf_dir)}"
        sig = content_signature(f"bkt:v2:{n}", sf_dir, _table_files(sf_dir, table))
        name = f"{family}_{sig}"
        memo = (spark.sparkContext.applicationId, name)
        if memo in _KNOWN:
            return name
        from cuny_courses_spark.sources.loaders import load

        df = load(spark, sf_dir, table)

        def build(tmp) -> None:
            # repartition on the bucket key first, so each write task holds
            # one bucket and writes one file. The staging table is external
            # (``path``), so dropping it keeps the files.
            stage = f"ccs_stage_{uuid.uuid4().hex}"
            spark.sparkContext.setJobDescription(f"ingest: bucketed mirror {name}")
            try:
                (
                    df.repartition(n, key)
                    .write.format("parquet")
                    .bucketBy(n, key)
                    .mode("overwrite")
                    .option("path", str(tmp))
                    .saveAsTable(stage)
                )
            finally:
                spark.sparkContext.setJobDescription(None)
                spark.sql(f"DROP TABLE IF EXISTS {stage}")

        out = publish_dir(_warehouse(spark), family, sig, build)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({df._jdf.schema().toDDL()}) "
            f"USING parquet CLUSTERED BY ({key}) INTO {n} BUCKETS LOCATION '{out}'"
        )
        _KNOWN.add(memo)
        return name
    except Exception:
        return table


def clustered_views(
    spark: SparkSession, sf_dir: str, specs: list[tuple[str, str]]
) -> dict[str, str] | None:
    """All-or-nothing multi-table form: return {table: mirror_name} for
    every (table, key) in ``specs``, or None if ANY table is ineligible
    or fails — checked via footer stats BEFORE any mirror is built, so a
    query that needs co-bucketed sides never pays for a build it cannot
    use (e.g. lineitem qualifying while orders is below threshold)."""
    try:
        for table, _key in specs:
            if os.environ.get("SPARK_GRAFT_NO_BUCKETED", "") == "1":
                return None
            stats = _source_stats(sf_dir, table)
            if stats is None or stats[0] < _MIN_MIRROR_ROWS:
                return None
        out = {}
        for table, key in specs:
            name = clustered_view(spark, sf_dir, table, key)
            if name == table:
                return None
            out[table] = name
        return out
    except Exception:
        return None
