"""Compare nearest-centroid assignment of the old crossJoin + window form
with ``vector_index.assign``, row by row, and print both plans.

The reference form is the one every IVF index used before
``operators/vector_index.py``: ``crossJoin(F.broadcast(centroids))``, the
affinity ``_dot(embedding, centroid) - half_sq``, and ``row_number`` over
``Window.partitionBy(vec_id)`` ordered by ``affinity DESC, cluster ASC``.

For each scale the corpus is the sf's embeddings table plus scale − 1
perturbed copies (``vec_id + j·10⁶``, every element nudged by a
per-copy, per-index amount and kept ``float``), so ×20 on sf0.1 is
40,000 vectors. The quantizer is ``ivf_train_centroids`` at
``ivf_adaptive_k(n)`` (k = 16 at ×1 and 320 at ×20 on sf0.1). Each form
is collected once to ``(vec_id, cluster)``, the reference first; the
script prints the rows whose clusters differ, both wall times, and, for
the first scale, both executed plans.

Usage: python plans/pr12/assign_parity.py <sf dir> [scale ...]
(default scales: 1 20), from the repository root.
"""
import os
import sys
import time

sys.path.insert(0, os.getcwd())

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cuny_courses_spark.operators.similarity import (  # noqa: E402
    _dot,
    ivf_adaptive_k,
    ivf_train_centroids,
)
from cuny_courses_spark.operators.vector_index import assign  # noqa: E402
from cuny_courses_spark.session import get_session  # noqa: E402
from cuny_courses_spark.sources.loaders import load  # noqa: E402

sf_dir = sys.argv[1]
scales = [int(a) for a in sys.argv[2:]] or [1, 20]
spark = get_session("assign_parity")
spark.sparkContext.setLogLevel("ERROR")


def reference(df, cent):
    w = Window.partitionBy("vec_id").orderBy(
        F.col("affinity").desc(), F.col("cluster").asc()
    )
    return (
        df.crossJoin(F.broadcast(cent))
        .withColumn(
            "affinity", _dot("embedding", "centroid") - F.col("half_sq")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster")
    )


def nudge(j):
    return lambda x, ix: x + F.lit(1e-3 * j) * F.sin(ix + F.lit(j))


def timed(df):
    t0 = time.perf_counter()
    rows = {r["vec_id"]: r["cluster"] for r in df.collect()}
    return rows, time.perf_counter() - t0


base = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
for i, scale in enumerate(scales):
    copies = [base] + [
        base.select(
            (F.col("vec_id") + j * 1_000_000).alias("vec_id"),
            F.transform("embedding", nudge(j))
            .cast("array<float>")
            .alias("embedding"),
        )
        for j in range(1, scale)
    ]
    corpus = copies[0]
    for c in copies[1:]:
        corpus = corpus.unionByName(c)
    corpus = corpus.cache()
    n = corpus.count()
    k = ivf_adaptive_k(n)
    cent = ivf_train_centroids(corpus, k, spark).cache()
    cent.count()
    ref_df = reference(corpus, cent)
    map_df = assign(corpus, cent, "embedding").select("vec_id", "cluster")
    ref, t_ref = timed(ref_df)
    got, t_map = timed(map_df)
    diff = sorted(v for v in ref if got.get(v) != ref[v])
    diff += sorted(set(got) - set(ref))
    print(
        f"x{scale}: n = {n}, k = {k}: {len(diff)} of {n} rows differ"
        f" {diff[:10]}; window form {t_ref:.2f} s, map {t_map:.2f} s",
        flush=True,
    )
    if i == 0:
        for name, df in (("window form", ref_df), ("map", map_df)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            print(f"--- {name} plan ---\n{plan}", flush=True)
    corpus.unpersist()
    cent.unpersist()
spark.stop()
