"""Distributed k-means (Lloyd's algorithm) over embedding columns.

Replaces the IVF centroid "stand-in" (a deterministic id-prefix
sample) with a real fit: deterministic hash-sample seeding, then
``n_iter`` Lloyd rounds — the assign step is an Arrow GEMM against
the collected (tiny) centroid table, the update step one
``groupBy(cid)`` of per-position means.

Reference parity: the reference engine has no clustering operator;
this exists to make the IVF ANN path (operators/similarity.py,
SURVEY.md §2 similarity-search family) honest — IVF recall depends
on centroid quality, and an id-prefix sample is a poor partitioner
for real corpora.

Scale notes (100 TB / billions of vectors)
------------------------------------------
- Per iteration: one map-side GEMM assign (centroids are k×dim
  doubles — tiny, shipped in the task closure) and one aggregation
  whose partial combine shuffles ~k×n_partitions rows, independent
  of corpus size.
- Iterations are driver-side loop steps: each generation's centroid
  table is collected and feeds the next assign; only the last one
  ``localCheckpoint``s.
- ``kmeans_assign`` runs the fit's assign kernel once
  (``similarity.nearest_centroids``, after one collect of the
  centroid table); ``inertia`` scores with a sequential JVM fold.
- Seeding samples the k rows with the smallest ``xxhash64(id,
  seed)`` — engine- and partitioning-independent. The fitted means
  are float-sum-order dependent in the last ulps (as in every
  distributed k-means); tests assert inertia decrease and assignment
  quality, not bit-exact centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .similarity import as_double_vec, nearest_centroids

__all__ = ["kmeans_fit", "kmeans_assign", "inertia"]


def _sqdist(a: Column, b: Column) -> Column:
    """Squared L2 via sequential fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pad(dim: Column) -> Column:
    """``vd`` zero-padded to ``dim`` elements."""
    return F.concat(F.col("vd"), F.array_repeat(F.lit(0.0), dim - F.size("vd")))


def _vecs(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(_id, vd double array) rows of ``corpus``, null vectors dropped."""
    return corpus.select(
        F.col(id_col).alias("_id"), as_double_vec(vec_col).alias("vd")
    ).where(F.col("vd").isNotNull())


def kmeans_fit(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    n_iter: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Fit k centroids with Lloyd's algorithm; returns
    ``(cid int, cv array<double>)``.

    Which vectors take part: every non-null vector, read as its
    zero-padded extension to ``dim``, the longest length in the whole
    corpus. Every centroid therefore has ``dim`` elements, and at a
    position none of its members has it holds 0.0 (the mean of their
    padding). Null vectors take no part; an empty or all-null corpus
    fits no centroid (0 rows).

    The assign step is :func:`similarity.nearest_centroids`' GEMM:
    the fit is ulp-tolerant by contract (tests assert inertia descent and
    assignment quality, never bit-exact centroids), and the GEMM
    keeps per-iteration cost flat as k grows toward the √N centroid
    counts a real IVF fit wants."""
    vecs = _vecs(corpus, id_col, vec_col).localCheckpoint(eager=True)

    # deterministic seeds, numbered 0..k-1 in hash order (k rows on
    # the driver-side window is trivial); dim rides along
    seeds = (
        vecs.select(F.xxhash64(F.col("_id"), F.lit(seed)).alias("_h"), "vd")
        .orderBy("_h")
        .limit(k)
        .crossJoin(vecs.agg(F.max(F.size("vd")).alias("dim")))
        .select(
            (F.row_number().over(Window.orderBy("_h")) - F.lit(1)).alias("cid"),
            _pad(F.col("dim")).alias("cv"),
            "dim",
        )
    )
    if n_iter <= 0:
        return seeds.drop("dim").localCheckpoint(eager=True)

    # Lloyd generations stay DRIVER-SIDE between iterations: the k-row
    # codebook is collect-bounded by the same contract the Arrow
    # assigner already relies on (it ships the table in the task
    # closure), so each generation costs one collect; only the FINAL
    # generation checkpoints.
    rows = seeds.collect()
    if not rows or not rows[0]["dim"]:
        return seeds.drop("dim").localCheckpoint(eager=True)
    dim = rows[0]["dim"]
    padded = vecs.select("_id", _pad(F.lit(dim)).alias("vd"))
    # Centroid update: ONE groupBy(cid) with a per-position avg each
    # (map-side partial-combining, k×dim aggregate state) — no
    # posexplode fanning every vector into dim shuffled rows.
    avgs = [F.avg(F.col("vd")[i]).alias(f"__a{i}") for i in range(dim)]
    arr = F.array(*[F.col(f"__a{i}") for i in range(dim)]).alias("cv")
    for i in range(n_iter):
        upd = nearest_centroids(
            padded, rows, id_col="_id", vec_col="vd", carry_vec=True
        )
        upd = upd.groupBy("cid").agg(*avgs).select("cid", arr)
        if i < n_iter - 1:
            rows = upd.collect()
    return upd.localCheckpoint(eager=True)


def kmeans_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """Assign every vector to its nearest fitted centroid (squared
    L2, ties toward the smaller cid; :func:`similarity.nearest_centroids`).
    Returns ``(id_col, cluster_id)``. Which vectors: the fit's rule —
    every non-null vector no longer than the centroids' dim, read
    zero-padded to it; a null or longer vector gets no row."""
    rows = centroids.select("cid", "cv").collect()  # bounded: k×dim
    dim = len(rows[0]["cv"]) if rows else 0
    vecs = _vecs(corpus, id_col, vec_col).where(F.size("vd") <= dim)
    vecs = vecs.select("_id", _pad(F.lit(dim)).alias("vd"))
    return nearest_centroids(vecs, rows, id_col="_id", vec_col="vd").select(
        F.col("_id").alias(id_col), F.col("cid").alias("cluster_id")
    )


def inertia(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> float:
    """Sum of squared distances to the nearest centroid — the
    quantity Lloyd iterations monotonically decrease (up to float
    summation noise) — over the vectors :func:`kmeans_assign`
    assigns, read the same way. One aggregate; for monitoring/tests."""
    scored = (
        _vecs(corpus, id_col, vec_col)
        .join(F.broadcast(centroids))
        .where(F.size("vd") <= F.size("cv"))
        .withColumn("_d", _sqdist(_pad(F.size("cv")), F.col("cv")))
    )
    row = (
        scored.groupBy("_id")
        .agg(F.min("_d").alias("d"))
        .agg(F.sum("d").alias("s"))
        .collect()[0]
    )
    return float(row["s"])
