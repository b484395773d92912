"""The vector-index core: nearest-centroid assignment and probe ranking.

Every IVF index in the engine (the ``q_sim_ivf*`` family, the persisted
pipeline indexes, ``q_lake_multi_table_txn``) routes a vector to its
nearest centroids by the Euclidean-argmin affinity ``x·c − ‖c‖²/2``
against a k-row quantizer. This module is the one place that computes it.

- ``centroid_table`` turns a numpy ``(k, d)`` centroid matrix into the
  ``cluster long, centroid array<double>, half_sq double`` table every
  index persists.
- ``assign`` is one ``mapInArrow`` over a DataFrame. The quantizer is
  collected once (k rows) and rides the map's closure, so assignment is
  a narrow pass: no join, no sort, no exchange, and never n·k rows.
- ``rank`` is the numpy kernel that ``assign`` and the driver-side probe
  of ``similarity._ivfpq_probe`` both call, on the arrays ``quantizer``
  collects.

Exactness: ``rank`` repeats ``similarity._dot``'s arithmetic (elements
widened to double, a 0.0 accumulator, one multiply and one add per index
in index order, no BLAS) and then subtracts ``half_sq``, so each affinity
is the double Spark's ``aggregate(zip_with(...)) - half_sq`` computes, bit
for bit. The order is Spark's ``affinity DESC, cluster ASC``: a NaN
affinity ranks first and ties go to the lowest cluster id. A vector whose
Spark affinity is null (a null vector, a null element, a length other
than d) ranks every cluster equal, so it gets the lowest cluster ids.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# rows × k affinities held at once: 8 MB of doubles, whatever k is
_CHUNK = 1 << 20


def centroid_table(spark: SparkSession, C) -> DataFrame:
    """The quantizer table of the ``(k, d)`` matrix ``C``: cluster ids
    0..k−1 in row order, ``half_sq = ‖c‖²/2``."""
    return spark.createDataFrame(
        [
            (ci, [float(x) for x in c], float((c * c).sum()) / 2.0)
            for ci, c in enumerate(C)
        ],
        "cluster long, centroid array<double>, half_sq double",
    )


def rank(X, C, half, nprobe: int):
    """``(n, min(nprobe, k))`` row indices of ``C``, best first, for each
    row of the float64 matrix ``X`` (see the module docstring for the
    arithmetic and the order)."""
    n, k = len(X), len(C)
    p = min(nprobe, k)
    out = np.empty((n, p), dtype=np.int64)
    step = max(1, _CHUNK // max(k, 1))
    for lo in range(0, n, step):
        x = X[lo : lo + step]
        aff = np.zeros((len(x), k))
        for j in range(C.shape[1]):
            aff += np.multiply.outer(x[:, j], C[:, j])
        aff -= half
        if p == 1:  # argmax: first NaN, else first maximum
            out[lo : lo + step, 0] = aff.argmax(1)
        else:
            # lexsort is stable: NaN first, then descending, ties by id
            nan = np.isnan(aff)
            out[lo : lo + step] = np.lexsort(
                (np.where(nan, 0.0, -aff), ~nan), axis=1
            )[:, :p]
    return out


def _vectors(arr, d: int):
    """``(rows, d)`` float64 matrix of an Arrow list column. A row whose
    Spark affinity would be null (null vector, null element, length other
    than d) is all NaN, which ``rank`` orders the same way."""
    import pyarrow.compute as pc

    lens = pc.list_value_length(arr).fill_null(0).to_numpy()
    ok = (lens == d) & arr.is_valid().to_numpy(zero_copy_only=False)
    # flatten(), not .values: it honours slice offsets and skips the
    # slots of null lists; a null element reads as NaN
    vals = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    starts = np.cumsum(lens) - lens
    X = np.full((len(arr), d), np.nan)
    X[ok] = vals[starts[ok, None] + np.arange(d)]
    return X


def quantizer(centroids: DataFrame):
    """``(ids, C, half)``: the cluster ids, the ``(k, d)`` centroid
    matrix and the ``half_sq`` vector of a quantizer table, collected
    once (k rows) and ordered by cluster id, so row order is tie order.
    Columns other than ``cluster``, ``centroid`` and ``half_sq`` are
    ignored."""
    rows = sorted(
        centroids.select("cluster", "centroid", "half_sq").collect(),
        key=lambda r: r["cluster"],
    )
    ids = np.array([r["cluster"] for r in rows], dtype=np.int64)
    C = np.array([r["centroid"] for r in rows], dtype=np.float64)
    half = np.array([r["half_sq"] for r in rows], dtype=np.float64)
    return ids, C.reshape(len(rows), -1), half


def assign(
    df: DataFrame, centroids: DataFrame, col: str, nprobe: int = 1
) -> DataFrame:
    """``df``'s columns plus ``cluster long``: the nearest stored
    centroid of the vector column ``col`` — or, with ``nprobe > 1``, one
    row per each of the ``nprobe`` nearest, best first. ``centroids`` is
    a quantizer table (see ``quantizer``), captured in the map's
    closure."""
    import pyarrow as pa

    ids, C, half = quantizer(centroids)
    p = min(nprobe, len(ids))

    def _assign(batches):
        for b in batches:
            top = ids[rank(_vectors(b.column(col), C.shape[1]), C, half, p)]
            if p != 1:
                b = b.take(np.repeat(np.arange(b.num_rows), p))
            yield b.append_column("cluster", pa.array(top.ravel()))

    schema = T.StructType(
        df.schema.fields + [T.StructField("cluster", T.LongType())]
    )
    return df.mapInArrow(_assign, schema)
