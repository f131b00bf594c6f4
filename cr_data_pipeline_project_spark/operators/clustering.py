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
- Seeding samples the k rows with the smallest ``xxhash64(id,
  seed)`` — engine- and partitioning-independent. The fitted means
  are float-sum-order dependent in the last ulps (as in every
  distributed k-means); tests assert inertia decrease and assignment
  quality, not bit-exact centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .similarity import as_double_vec

__all__ = ["kmeans_fit", "kmeans_assign", "inertia"]


def _sqdist(a: Column, b: Column) -> Column:
    """Squared L2 via sequential fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(
    vecs: DataFrame, cents: DataFrame, engine: str = "expr"
) -> DataFrame:
    """(_id, vd) × centroids → (_id, vd, cid) of the nearest
    centroid, ties broken on smallest cid.

    ``engine='expr'``: broadcast join + struct-min aggregate — pure
    JVM, bit-reproducible sequential folds, the shape the oracled
    IVF assignment shares. Partial aggregation collapses the k
    candidates per vector map-side, but each of the N×k distance
    folds evaluates interpreted — cost grows linearly in k.

    ``engine='arrow'``: one BLAS GEMM per Arrow batch against all k
    centroids (similarity.nearest_centroids) — no N×k row expansion
    at all, constant-ish cost in k. Summation order differs in the
    last ulps, so this path serves the fit loop and other
    recall-gated surfaces, not bit-parity-tested assignment."""
    if engine == "arrow":
        from .similarity import nearest_centroids

        return nearest_centroids(
            vecs, cents, probe=1, id_col="_id", vec_col="vd", carry_vec=True
        ).select("_id", "vd", "cid")
    scored = vecs.join(F.broadcast(cents)).withColumn(
        "_d", _sqdist(F.col("vd"), F.col("cv"))
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.min(F.struct(F.col("_d"), F.col("cid"))).alias("_m"),
            # all rows in the group share the vector; first() is
            # value-deterministic here
            F.first("vd").alias("vd"),
        )
        .select("_id", "vd", F.col("_m.cid").alias("cid"))
    )


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

    The assign step is the Arrow GEMM (see :func:`_assign`): the fit
    is ulp-tolerant by contract (tests assert inertia descent and
    assignment quality, never bit-exact centroids), and the GEMM
    keeps per-iteration cost flat as k grows toward the √N centroid
    counts a real IVF fit wants."""
    vecs = (
        corpus.select(F.col(id_col).alias("_id"), as_double_vec(vec_col).alias("vd"))
        .where(F.col("vd").isNotNull())
        .localCheckpoint(eager=True)
    )

    def _pad(dim: Column) -> Column:
        return F.concat(
            F.col("vd"), F.array_repeat(F.lit(0.0), dim - F.size("vd"))
        )

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
        upd = _assign(padded, rows, engine="arrow").groupBy("cid").agg(*avgs)
        upd = upd.select("cid", arr)
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
    L2). Returns ``(id_col, cluster_id)``. Centroids broadcast."""
    vecs = corpus.select(
        F.col(id_col).alias("_id"), as_double_vec(vec_col).alias("vd")
    )
    return _assign(vecs, centroids).select(
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
    summation noise). One aggregate; for monitoring/tests."""
    vecs = corpus.select(
        F.col(id_col).alias("_id"), as_double_vec(vec_col).alias("vd")
    )
    scored = vecs.join(F.broadcast(centroids)).withColumn(
        "_d", _sqdist(F.col("vd"), F.col("cv"))
    )
    row = (
        scored.groupBy("_id")
        .agg(F.min("_d").alias("d"))
        .agg(F.sum("d").alias("s"))
        .collect()[0]
    )
    return float(row["s"])
