"""Bucket-local copy-on-write: the rewrite kernel of the lakehouse format.

A layout-preserving rewrite (a key merge, a full sync on a bucketed
table, OPTIMIZE) leaves every row in the bucket it came from. So the
rewrite of one bucket needs only that bucket's own files and the part of
the changeset routed to it: Spark shuffles the changeset to its bucket,
and one Arrow task per hot bucket streams the bucket's files through the
deletion-vector filter, drops the removed keys, appends the added rows
and writes one parquet file. Base rows never cross a shuffle.

- ``live_row_groups`` is the one Arrow reader of a data file with its
  deletion vectors applied, one row group at a time. lakefeed's bucket
  diff reads its sides through it too, so the Arrow DV filter
  (``drop_keys``) has one definition.
- ``rewrite_bucket`` is the per-bucket kernel; ``rewrite_buckets`` runs
  it as one Spark job and reports which buckets it rewrote.

The functions run in executor Python processes, where this package is
not importable: ``cuny_courses_spark/__init__.py`` registers this module
for pickle-by-value, so the task closure carries them. pyarrow is
imported inside the functions for the same reason.
"""

from __future__ import annotations

import os
import uuid

from cuny_courses_spark.lakeformat import applicable_dvs, bucket_of_path

# Rows buffered per output row group: pyarrow's default row-group size.
# A task holds at most one output row group, one input row group and its
# bucket's share of the changeset.
_ROW_GROUP_ROWS = 1 << 20


def drop_keys(t, key: str, keys):
    """``t`` without the rows whose ``key`` is in the array ``keys``: the
    one Arrow filter of deletion vectors and merge removals. A null key
    never matches, as in the Spark read's anti-join."""
    import pyarrow.compute as pc

    if keys is None or len(keys) == 0:
        return t
    hit = pc.is_in(t.column(key), value_set=keys, skip_nulls=True)
    return t.filter(pc.invert(hit))


def conform(t, target):
    """``t`` in the ``target`` schema: columns it lacks (a file written
    before an additive schema change, or a changeset that omits a column)
    read as null, the rest cast (a widened column upcasts)."""
    import pyarrow as pa

    have = set(t.column_names)
    n = t.num_rows
    return pa.table(
        [
            t.column(f.name).cast(f.type) if f.name in have
            else pa.nulls(n, f.type)
            for f in target
        ],
        schema=target,
    )


def _dv_keys(dv_paths, key_type):
    """The keys of the DV sidecars ``dv_paths`` as one array of the
    table's key type (a sidecar written before a widen upcasts), or
    None when there are none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    chunks = [
        c.cast(key_type)
        for dv in dv_paths
        for c in pq.read_table(dv).column(0).chunks
    ]
    return pa.concat_arrays(chunks) if chunks else None


def live_row_groups(path: str, dv_paths, target, key: str):
    """Yield the live rows of data file ``path`` one row group at a time,
    in the ``target`` schema, with the keys of its applicable DV
    sidecars ``dv_paths`` removed."""
    import pyarrow.parquet as pq

    dead = _dv_keys(dv_paths, target.field(key).type)
    pf = pq.ParquetFile(path)
    have = set(pf.schema_arrow.names)
    cols = [f.name for f in target if f.name in have]
    for i in range(pf.num_row_groups):
        yield drop_keys(conform(pf.read_row_group(i, columns=cols), target), key, dead)


def rewrite_bucket(
    b: int, files_with_dvs, target, pk: str, remove_keys, add_rows, out_dir: str
) -> str | None:
    """Rewrite bucket ``b``: its live rows (``files_with_dvs`` as
    ``(path, DV paths)`` pairs), minus the rows whose ``pk`` is in
    ``remove_keys``, plus ``add_rows``, as one snappy parquet file under
    ``out_dir/_b=<b>/``. Returns the file's path, or None when the
    bucket ends empty (no file is written)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    removed = None
    if remove_keys is not None and len(remove_keys):
        removed = remove_keys.cast(target.field(pk).type)
    path = os.path.join(out_dir, f"_b={b}", f"part-{uuid.uuid4().hex}.snappy.parquet")
    writer, buf, n_buf = None, [], 0

    def flush():
        nonlocal writer, buf, n_buf
        if writer is None:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            # no dictionary for the key: its values are unique, so one
            # only adds bytes (Spark's writer drops it for the same reason)
            writer = pq.ParquetWriter(
                path, target, compression="snappy",
                use_dictionary=[f.name for f in target if f.name != pk],
            )
        writer.write_table(pa.concat_tables(buf), row_group_size=_ROW_GROUP_ROWS)
        buf, n_buf = [], 0

    def parts():
        for f, dvs in files_with_dvs:
            for t in live_row_groups(f, dvs, target, pk):
                yield drop_keys(t, pk, removed)
        if add_rows is not None:
            yield conform(add_rows, target)

    try:
        for t in parts():
            if t.num_rows:
                buf.append(t)
                n_buf += t.num_rows
                if n_buf >= _ROW_GROUP_ROWS:
                    flush()
        if buf:
            flush()
    finally:
        if writer is not None:
            writer.close()
    return path if writer is not None else None


def rewrite_buckets(
    spark, parent: dict, files: list[str], changes, schema: dict, pk: str,
    out_dir: str, n_hot: int,
) -> tuple[set, list[str]]:
    """Run ``rewrite_bucket`` as one Spark job for every bucket that
    ``changes`` names, over that bucket's share of ``files`` (data files
    of snapshot ``parent``, read with their applicable DVs), writing into
    the staging dir ``out_dir`` in the child manifest ``schema``. Returns
    ``(hot, new_files)``: the buckets the job rewrote, and the files it
    wrote.

    ``changes`` is a frame with the bucket ``_b``, the flags ``_rm`` (its
    ``pk`` is removed from the bucket) and ``_add`` (the row is added),
    and the added rows' columns. ``n_hot`` bounds the hot buckets; the
    job runs ``min(n_hot, cores)`` tasks through an explicit repartition
    count, so adaptive execution cannot coalesce the stage into fewer."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    target = pa.schema([
        pa.field(f.name, to_arrow_type(f.dataType))
        for f in T.StructType.fromJson(schema).fields
    ])
    by_bucket: dict[int, list] = {}
    for p in files:
        dvs = [d["path"] for d in applicable_dvs(parent, p)]
        by_bucket.setdefault(bucket_of_path(p), []).append((p, dvs))

    def task(key, t):
        b = key[0].as_py()
        rm = t.filter(t.column("_rm")).column(pk) if pk in t.column_names else None
        add = t.filter(t.column("_add"))
        path = rewrite_bucket(
            b, by_bucket.get(b, []), target, pk, rm,
            add if add.num_rows else None, out_dir,
        )
        return pa.table({"_b": pa.array([b], pa.int32()),
                         "path": pa.array([path], pa.string())})

    k = max(1, min(n_hot, spark.sparkContext.defaultParallelism))
    rows = (
        changes.withColumn("_b", F.col("_b").cast("int"))
        .repartition(k, "_b")
        .groupBy("_b")
        .applyInArrow(task, "_b int, path string")
        .collect()
    )
    return {r["_b"] for r in rows}, sorted(r["path"] for r in rows if r["path"])
