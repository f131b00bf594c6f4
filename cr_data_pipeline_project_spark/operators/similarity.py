"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, IVF (inverted
file) partitioned search as the scale path, plus cosine near-dup
pairing.

All dot products run JVM-side via ``zip_with``/``aggregate`` fold on
double arrays — sequential left-to-right summation, bit-reproducible
across engines (verified exactly equal to DuckDB's
list_cosine_similarity on the fixture data). A Pandas-UDF variant
(:func:`cosine_topk_pandas`) exists for wide embeddings where BLAS
beats codegen.

Scale notes (100 TB / billions of vectors)
------------------------------------------
- Brute force is O(Q·N) — only for small query sets (broadcast the
  queries, never the corpus; the corpus side streams map-side with NO
  shuffle).
- IVF: corpus is pre-assigned to centroids (one shuffle, or better:
  written bucketed by cluster_id); a query probes ``nprobe``
  clusters → candidate set shrinks by ~ncentroids/nprobe. Centroid
  count should be ~sqrt(N) at scale. Centroids are any ``(cid, cv)``
  table; ``clustering.kmeans_fit`` fits them.
- Every nearest-centroid pick in the numpy kernels (this module's
  flat and two-level assigners, PQ's subspace assign and IVF-PQ's
  coarse routing) goes through :func:`_nearest`: one distance
  ``‖c‖² − 2·v·c`` over cid-sorted centroids, one tie rule.
- Normalize once, store the norm: cosine becomes a pure dot product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..session import local_frame

# Per-block float64 budget for the blocked per-cluster GEMM verify
# (_verify_clusters_gemm): 8M doubles = 64 MB per worker, independent
# of cluster size.
_GEMM_BLOCK_ELEMS = 8_000_000


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition a NARROW scan-rooted frame to the session's default
    parallelism before compute that dominates one exchange of the
    input rows: a single-split input (one parquet file — every local
    fixture) would otherwise run the stage serially, the trap
    shingle_set documents (measured 10× on the q108 instr sweep and
    on the per-doc media synth/encode chain). Apply ONLY where the
    per-row compute is heavy — for the small-vector GEMM kernels the
    added exchange measured SLOWER than the serial kernel at fixture
    scale, and a real warehouse scan arrives multi-split, making this
    a no-op there. The partition probe inspects the planned RDD (no
    job runs)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def as_double_vec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential fold — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """dot / (norm · norm), NULL when either vector has zero norm
    (all-zero or empty): a zero-norm vector is similar to nothing, so
    its score never passes a threshold and ranks last under
    ``F.desc`` (nulls last)."""
    den = norm(a) * norm(b)
    return F.when(den > 0, dot(a, b) / den)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast; ranking
    tie-breaks on neighbor id for full determinism.
    Returns (query_id, neighbor_id, rank, score)."""
    spark = corpus.sparkSession
    nparts = spark.sparkContext.defaultParallelism
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv")
    ).repartition(nparts)
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos", 6).alias("score"),
        )
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_blocks: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — O(N²) verification
    baseline. Scale path: run :func:`ivf_assign` first and only pair
    within clusters, or :func:`hyperplane_lsh_neardup`.
    Returns (vec_a, vec_b, score).

    Plan shape — block-nested pairing, NO corpus broadcast: each
    vector hashes into one of ``n_blocks`` blocks; the a-side
    replicates to combos ``(own block, j≥own)``, the b-side to
    ``(i≤own, own block)``, and a plain equi-join on the combo key
    materializes every unordered block pair exactly once. Shuffle is
    ~``N·n_blocks/2`` rows per side (vs. an unbounded broadcast that
    OOMs past ~10⁶ vectors); parallelism is the
    ``n_blocks·(n_blocks+1)/2`` combos, and compute stays O(N²) by
    contract. Norms are computed once per vector; cos = dot/(na·nb)
    keeps the exact fold the oracle uses — multiplication is
    commutative per IEEE, so the canonicalized (least-id, greatest-id)
    output is bit-identical to the id-ordered cross product.

    Kernel shape (optimization round 11): the block pair is evaluated
    in ONE cogrouped Arrow kernel per (i, j) combo — each vector
    crosses the Python boundary once per combo instead of once per
    PAIR (the previous per-pair JVM join materialized both vectors on
    every candidate row and folded an interpreted higher-order dot:
    measured 11.8 s for 2M pairs at sf0.1, vs 0.5 s for the join
    alone; a static unrolled expression was no better, 16.8 s —
    element-wise JVM expression evaluation is the wrong tool for a
    GEMM, guide §4.2). Inside the kernel a blocked numpy GEMM
    PREFILTERS at ``threshold − 1e-6`` (pairwise-summation dot differs
    from the sequential fold by ≪ 1e-9 relative — no false negatives
    at 1e-6 slack), then every SURVIVOR is re-scored with the exact
    sequential Python fold — bit-identical to the JVM
    ``dot/(norm·norm)`` chain (Python floats are IEEE doubles, same
    left-associated order), so the output is unchanged to the bit.
    Ragged corpora keep the old semantics: cos is computed within
    every same-length class (stacked per length), and cross-length
    pairs drop exactly as the zip_with fold's null did.

    ``n_blocks`` auto-sizes to the data when not given: enough combos
    to fill the cluster (b(b+1)/2 ≥ parallelism ⇒ b ≈ √(2P)) but no
    more — every extra block replicates each vector ~b/2 more times
    through the shuffle — and, at corpus scale, enough blocks that a
    single block (two of which must sit in one task) stays bounded
    (~100k vectors). The per-combo GEMM is chunked at
    ``_GEMM_BLOCK_ELEMS`` so a 100k-vector block never materializes a
    full score matrix. Sizing costs one count() job on the id column."""
    import numpy as np
    import pandas as pd

    if n_blocks is None:
        from math import ceil, sqrt

        p = df.sparkSession.sparkContext.defaultParallelism
        n = df.count()
        n_blocks = max(2, ceil(sqrt(2 * p)), ceil(n / 100_000))
    v = df.select(
        F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v")
    ).where(F.col("v").isNotNull())
    v = v.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    a = v.select(
        "id",
        "v",
        F.col("blk").alias("ba"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bb"),
    )
    # distinct names on the right side: both cogroup branches derive
    # from the same frame, and duplicated attribute ids across a
    # self-cogroup mis-prune the right side's payload columns
    # (observed: the kernel received only the grouping keys)
    b = v.select(
        F.col("id").alias("id2"),
        F.col("v").alias("v2"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("ba"),
        F.col("blk").alias("bb"),
    )
    id_type = dict(df.dtypes)[id_col]
    pre = threshold - 1e-6

    def exact_cos(x, y) -> float:
        # the JVM chain to the bit: sequential fold dots/norms
        # (Python float ops ARE IEEE doubles in the same order)
        d = 0.0
        nx = 0.0
        ny = 0.0
        for i in range(len(x)):
            d += x[i] * y[i]
            nx += x[i] * x[i]
            ny += y[i] * y[i]
        import math

        return d / (math.sqrt(nx) * math.sqrt(ny))

    def per_combo(left: "pd.DataFrame", right: "pd.DataFrame"):
        out_a, out_b, out_c = [], [], []
        if len(left) and len(right):
            same_block = bool(left["ba"].iat[0] == left["bb"].iat[0])
            # per-length classes: cos is defined within a length class;
            # cross-length pairs dropped (the zip_with fold's null)
            llen = left["v"].map(len)
            rlen = right["v2"].map(len)
            for d in sorted(set(llen.unique()) & set(rlen.unique())):
                la = left[llen == d]
                rb = right[rlen == d]
                A = (
                    np.stack(la["v"].values)
                    if d
                    else np.zeros((len(la), 0))
                )
                B = (
                    np.stack(rb["v2"].values)
                    if d
                    else np.zeros((len(rb), 0))
                )
                ia = la["id"].values
                ib = rb["id2"].values
                an = np.sqrt((A * A).sum(axis=1))
                bn = np.sqrt((B * B).sum(axis=1))
                blk = max(1, _GEMM_BLOCK_ELEMS // max(1, len(rb)))
                for i0 in range(0, len(la), blk):
                    i1 = min(i0 + blk, len(la))
                    # a zero-norm (all-zero or empty) vector scores
                    # 0/0 = NaN here and NULL in cosine(): it is
                    # similar to nothing, and NaN fails the prefilter
                    with np.errstate(divide="ignore", invalid="ignore"):
                        S = (A[i0:i1] @ B.T) / np.outer(an[i0:i1], bn)
                    mask = S >= pre
                    if same_block:
                        # unordered combo (i,i): keep id_a < id_b once
                        mask &= ia[i0:i1, None] < ib[None, :]
                    else:
                        mask &= ia[i0:i1, None] != ib[None, :]
                    r, c = np.nonzero(mask)
                    for rr, cc in zip(r.tolist(), c.tolist()):
                        xa, xb = ia[i0 + rr], ib[cc]
                        cs = exact_cos(A[i0 + rr], B[cc])
                        if cs >= threshold:
                            lo, hi = (xa, xb) if xa < xb else (xb, xa)
                            out_a.append(lo)
                            out_b.append(hi)
                            out_c.append(cs)
        return pd.DataFrame(
            {"vec_a": out_a, "vec_b": out_b, "cos": out_c}
        )

    # Pin the combo distribution with an explicit-width repartition:
    # HashPartitioning(ba, bb) satisfies the cogroup's clustering
    # requirement, and a REPARTITION_BY_NUM shuffle is exempt from
    # AQE coalescing — the documented "AQE trap" (tiny-byte block
    # shuffles fusing and serializing the O(N²) GEMM) stays guarded
    # instead of riding the default parallelismFirst floor
    # (ADVICE r11).
    nparts = df.sparkSession.sparkContext.defaultParallelism
    pairs = (
        a.repartition(nparts, "ba", "bb")
        .groupBy("ba", "bb")
        .cogroup(b.repartition(nparts, "ba", "bb").groupBy("ba", "bb"))
        .applyInPandas(
            per_combo, f"vec_a {id_type}, vec_b {id_type}, cos double"
        )
    )
    return pairs.select("vec_a", "vec_b", F.round("cos", 6).alias("score"))


def _cosine_probe(
    v: DataFrame,
    key: str,
    vec: str,
    centroids: DataFrame,
    centroid_id: str,
    centroid_vec: str,
    n: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The ``n`` max-cosine centroids per ``key`` of ``v`` as (key,
    *carry, cluster_id) rows: centroids broadcast, ties toward the
    smaller centroid id (the order q42's oracle twin ranks by)."""
    cents = centroids.select(
        F.col(centroid_id), as_double_vec(centroid_vec).alias("cvd")
    )
    scored = v.crossJoin(F.broadcast(cents)).select(
        key, *carry, centroid_id, cosine(F.col(vec), F.col("cvd")).alias("cos")
    )
    w = Window.partitionBy(key).orderBy(F.desc("cos"), F.col(centroid_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .select(key, *carry, F.col(centroid_id).alias("cluster_id"))
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
) -> DataFrame:
    """Assign every vector to its nearest (max-cosine) centroid.
    Centroids broadcast; tie-break on centroid id.
    Returns (vec_id, cluster_id)."""
    v = corpus.select(F.col(id_col), as_double_vec(vec_col).alias("v"))
    return _cosine_probe(v, id_col, "v", centroids, centroid_id, centroid_vec, 1)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k: each query probes its ``nprobe``
    closest centroids and ranks only vectors assigned there.
    Returns (query_id, neighbor_id, rank, score)."""
    assign = ivf_assign(corpus, centroids, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("qv")
    )
    probes = _cosine_probe(
        q, "query_id", "qv", centroids, "cid", "cv", nprobe, carry=("qv",)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv")
    ).join(
        assign.select(F.col(id_col).alias("neighbor_id"), "cluster_id"),
        "neighbor_id",
    )
    scored = (
        c.join(F.broadcast(probes), "cluster_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos")
        )
        # a vector may sit in several probed clusters only if listed
        # twice; assignment is unique so no dedup needed
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("score"))
    )


def hyperplane_lsh_neardup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_planes: int = 16,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Scale path for cosine near-dup: random-hyperplane LSH (SimHash
    on floats). ``n_tables`` independent signatures of ``n_planes``
    sign bits each; vectors agreeing on any full signature are
    candidates, then exact cosine ≥ threshold verifies.

    P(bit agrees) = 1 − θ/π, so candidate recall =
    1 − (1 − (1−θ/π)^planes)^tables — tune (planes, tables) to the
    threshold. Unlike MinHash banding this is not provably ≈1 at
    modest sizes, so the query surface treats it as approximate
    (rows-only check) with measured recall in tests.

    Scale: corpus never self-joins — only signature buckets do. One
    narrow shuffle on (table_idx, signature)."""
    import random as _random

    rng = _random.Random(seed)
    planes = [
        [
            [rng.choice((-1.0, 1.0)) for _ in range(dim)]
            for _ in range(n_planes)
        ]
        for _ in range(n_tables)
    ]
    # Narrow scan, wide compute: the signature folds (tables × planes
    # dot products per row) are the expensive map side — spread them
    # across cores first, since the input may arrive in very few
    # splits (a single-file table reads as ONE partition).
    v = (
        df.select(
            F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v")
        )
        # np.stack below requires a rectangular batch: a null or
        # wrong-dimension embedding would fail the whole job (the old
        # expression path degraded gracefully) — drop them up front.
        .where(F.col("v").isNotNull() & (F.size("v") == dim))
        # explicit count — AQE coalesces bare repartition(col) to ~1
        # partition for small row payloads, serializing the GEMM
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
    )
    v = v.withColumn("nrm", norm(F.col("v")))
    # The plane projection is a (batch × dim) @ (dim × tables·planes)
    # GEMM — exactly the shape where an Arrow-batched mapInPandas
    # beats JVM expression eval: the equivalent expression-tree fold
    # measured ~1.5 ms/row (higher-order array functions evaluate
    # interpreted, outside whole-stage codegen), BLAS does the whole
    # batch in microseconds. Sign of a near-zero projection may
    # differ from a sequential fold by summation order — irrelevant
    # for a probabilistic candidate generator (the exact-cosine
    # verify below stays pure JVM).
    import numpy as np
    import pandas as pd

    P = np.array(
        [planes[t][p] for t in range(n_tables) for p in range(n_planes)]
    ).T  # (dim, tables*planes)
    W = (1 << np.arange(n_planes)).astype(np.int64)

    def sigs(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].values)  # (b, dim)
            bits = (V @ P) >= 0  # (b, tables*planes)
            out = []
            for t in range(n_tables):
                sig = bits[:, t * n_planes : (t + 1) * n_planes] @ W
                out.append(
                    pd.DataFrame(
                        {
                            "id": pdf["id"].values,
                            "table_idx": np.int32(t),
                            "sig": sig,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    # Bucket join on IDS ONLY — the (table_idx, sig) shuffle carries
    # two longs per row, not the embedding payload; vectors re-attach
    # AFTER candidate-pair dedup, so each vector's floats cross the
    # wire once per verified pair side, never once per bucket hit.
    id_type = dict(df.dtypes)[id_col]
    buckets = v.select("id", "v").mapInPandas(
        sigs, schema=f"id {id_type}, table_idx int, sig long"
    )
    from .dedup import _bucket_pairs

    cand = _bucket_pairs(
        buckets, ["table_idx", "sig"], "id", max_bucket=100_000
    ).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    va = v.select(
        F.col("id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = v.select(
        F.col("id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos"
            ),
        )
        .where(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("score"))
    )


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Arrow-batched variant: per-partition numpy GEMM against the
    broadcast query matrix — the fast path for wide embeddings
    (d ≥ ~256) where BLAS wins over codegen folds. Semantics match
    :func:`brute_force_topk` except scores are float64 numpy."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    spark = corpus.sparkSession
    b_ids = spark.sparkContext.broadcast(q_ids)
    b_mat = spark.sparkContext.broadcast(q_norm)

    def score_part(batches):
        for pdf in batches:
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(c_mat) == 0:
                continue
            c_norm = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_norm @ b_mat.value.T  # (n_corpus, n_queries)
            n, m = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(b_ids.value, n),
                    "neighbor_id": np.tile(pdf[id_col].values, m),
                    "cos": sims.T.ravel(),
                }
            )

    # fewer, larger Arrow batches: GEMM efficiency scales with batch
    # rows; 32 slivers of a small corpus would pay per-batch overhead.
    # coalesce can only DECREASE partitions — a single-split scan (the
    # local fixture) must repartition UP or the GEMM runs serially.
    n_parts = max(2, min(8, corpus.sparkSession.sparkContext.defaultParallelism // 4))
    side = corpus.select(id_col, vec_col)
    side = (
        side.repartition(n_parts)
        if side.rdd.getNumPartitions() < n_parts
        else side.coalesce(n_parts)
    )
    scored = side.mapInPandas(
        score_part, "query_id long, neighbor_id long, cos double"
    ).where(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("score"))
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 127.0,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column — the 4×
    storage/bandwidth compression step before ANN indexing at corpus
    scale. ``q = floor(x*scale + 0.5)`` (explicit half-up via floor so
    every engine rounds identically; bankers'/away-from-zero
    differences in native round() would break bit parity). Returns
    (id, qvec array<int>, dequant_err double)."""
    v = as_double_vec(vec_col)
    q = F.transform(
        v, lambda x: F.floor(x * F.lit(scale) + F.lit(0.5)).cast("int")
    )
    deq = F.zip_with(v, q, lambda x, qi: x - qi.cast("double") / F.lit(scale))
    err = F.sqrt(
        F.aggregate(
            F.transform(deq, lambda d: d * d),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return df.select(
        F.col(id_col),
        q.alias("qvec"),
        F.round(err, 6).alias("dequant_err"),
    )


# ------------------------------------------------------------------ #
# semantic dedup (cluster-bucketed embedding near-dup)                #
# ------------------------------------------------------------------ #


def semantic_neardup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    k: int | None = None,
    n_iter: int = 2,
    probe: int = 3,
    max_cluster: int = 100_000,
    target_cluster: int = 125,
    routing: str = "flat",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.,
    "SemDeDup", arXiv:2303.09540): k-means buckets
    the corpus, candidate pairs form only WITHIN clusters, exact
    cosine verifies. Returns (vec_a, vec_b, score) with score ≥
    ``threshold`` — the sub-quadratic scale twin of
    :func:`cosine_neardup_pairs` (which replicates every vector
    ~n_blocks/2× and compares all N²/2 pairs).

    Recall knob: each vector lands in its ``probe`` nearest clusters
    (multi-assignment, the IVF multi-probe trick applied index-side),
    so a near-dup pair straddling one k-means boundary still shares a
    bucket unless both of its members' ``probe`` nearest centroids
    are entirely disjoint. Precision is exact — every candidate is
    cosine-verified.

    Scale: compare cost drops from O(N²) to O(Σ|cluster|²) ≈
    N²·probe²/k for balanced clusters; shuffles carry (cluster, id)
    pairs and one vector row per (vector, probe). ``max_cluster``
    drops degenerate clusters (a collapsed centroid swallowing the
    corpus) via the shared windowed hot-bucket guard.

    ``k`` auto-sizes to ``max(16, ceil(N / target_cluster))`` when
    not given (one count() job): a FIXED k means cluster occupancy
    grows ~N and candidate pairs ~N² — measured as a JVM-OOM at 10×
    the bench fixture (tools/scaling_probe.py). Constant occupancy
    keeps pair count ~N·target_cluster·probe²; the Arrow GEMM assign
    (:func:`nearest_centroids`) is what makes per-vector assignment
    cost flat as k grows. The auto-k is capped at 2¹⁶ — beyond that
    the centroid table itself (k×dim collected to the driver,
    shipped per task) outgrows the broadcast budget; past ~10⁸
    vectors, move to ``routing='two_level'`` (coarse k-means over
    √k supercentroids routing to per-cell fine centroids,
    :func:`nearest_centroids_two_level` — the IVF literature's
    standard escape hatch) rather than a flat table: it never
    collects the k×dim fine table, so the 2¹⁶ cap does not apply."""
    from .clustering import kmeans_fit

    if k is None:
        from math import ceil

        k = min(65536, max(16, ceil(df.count() / target_cluster)))
    cents = kmeans_fit(df, k, id_col, vec_col, n_iter)
    v = df.select(
        F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v")))

    # nearest `probe` centroids per vector via the Arrow GEMM kernel
    # — no N×k row expansion, no per-id collect_list state, and cost
    # flat in k, which is what lets `k` grow large enough for the
    # bucketing to actually prune (a small k with probe≈k/3 degrades
    # toward all-pairs).
    if routing == "two_level":
        assigned = nearest_centroids_two_level(
            v, cents, probe=probe, id_col="id", vec_col="v"
        )
    else:
        assigned = nearest_centroids(
            v, cents, probe=probe, id_col="id", vec_col="v"
        )
    return _verify_clusters_gemm(v, assigned, threshold, max_cluster)


def _verify_clusters_gemm(
    v: DataFrame,
    assigned: DataFrame,
    threshold: float,
    max_cluster: int,
) -> DataFrame:
    """Per-cluster BLAS verification for :func:`semantic_neardup`:
    each (multi-probe) cluster's member matrix scores all its pairs
    in ONE V·Vᵀ — no pair table, no per-pair vector fetch, no
    interpreted dot folds. With constant cluster occupancy m, the
    candidate-pair count is still ~N·m·probe²/2, but the per-pair
    cost drops from an interpreted 2·dim-element fold to a GEMM
    cell (measured ~8× end-to-end at 100k×64d against the per-pair
    join-and-fold verify it replaced). Shuffle volume is one (id,
    vector) row per (vector, probe), with no pair-table join fan-out.

    A pair sharing several probed clusters is scored in each;
    duplicates collapse on the PAIR KEY alone (groupBy + max(score))
    — BLAS blocking can differ between two clusters' matrices, so a
    cosine sitting exactly on a 1e-6 rounding boundary may emit two
    rows differing in the 6th decimal; keying the one-row-per-pair
    contract on (vec_a, vec_b) makes it independent of ulp-level
    score agreement. The hot-cluster guard drops groups beyond
    ``max_cluster`` BEFORE grouping, same contract as
    `_bucket_pairs`.

    Memory: the GEMM is BLOCKED — score ``V[i:i+B] @ V.T`` and
    threshold per block (B ≈ ``_GEMM_BLOCK_ELEMS``/m rows), so peak
    worker allocation is O(B·m) ≈ 64 MB regardless of cluster size,
    not the O(m²) a full similarity matrix + triu_indices would
    need (a skewed-but-under-cap 50k cluster would otherwise
    allocate tens of GB in one Python worker)."""
    import numpy as np
    import pandas as pd

    id_type = dict(v.dtypes)["id"]
    joined = assigned.join(v.hint("shuffle_hash"), "id")
    hot = (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_cluster)
        .select("cid")
    )
    joined = joined.join(F.broadcast(hot), "cid", "left_anti")

    def per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {"vec_a": [], "vec_b": [], "score": []}
        )
        if len(pdf) < 2:
            return empty
        order = np.argsort(pdf["id"].values)
        ids = pdf["id"].values[order]
        V = np.stack(pdf["v"].values[order])
        n = pdf["nrm"].values[order]
        m = len(ids)
        blk = max(1, _GEMM_BLOCK_ELEMS // m)
        cols_g = np.arange(m)[None, :]
        outs = []
        for i0 in range(0, m - 1, blk):
            i1 = min(i0 + blk, m)
            S = (V[i0:i1] @ V.T) / np.outer(n[i0:i1], n)
            mask = S >= threshold
            # strictly-upper triangle: global col > global row
            mask &= cols_g > np.arange(i0, i1)[:, None]
            r, c = np.nonzero(mask)
            if len(r):
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids[r + i0],
                            "vec_b": ids[c],
                            "score": np.round(S[r, c], 6),
                        }
                    )
                )
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    out = joined.groupBy("cid").applyInPandas(
        lambda pdf: per_cluster(pdf),
        f"vec_a {id_type}, vec_b {id_type}, score double",
    )
    return out.groupBy("vec_a", "vec_b").agg(F.max("score").alias("score"))


def nearest_centroids_two_level(
    vecs: DataFrame,
    cents: DataFrame,
    probe: int = 1,
    id_col: str = "id",
    vec_col: str = "v",
    coarse_k: int | None = None,
    route_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Two-level (coarse → fine) centroid assignment — the documented
    escape hatch past :func:`nearest_centroids`' flat-table limit
    (the 2¹⁶ auto-k cap in :func:`semantic_neardup`): ~√k coarse
    supercentroids route each vector to a CELL, and the fine
    centroids live per cell, so no task ever holds the full k×dim
    table — the IVF literature's standard coarse-quantizer shape
    (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011, §IV). Returns (id, cid) like the flat
    assigner (no ``carry_vec``).

    Plan: (1) fit ``coarse_k`` (default ⌈√k⌉) supercentroids over
    the k fine centroids themselves (a k-row fit — cheap); (2) flat-
    assign each fine centroid to its nearest cell (√k-sized table);
    (3) flat-assign each vector to its ``route_probe`` nearest cells
    (multi-probe ROUTING — a vector whose true nearest fine centroid
    sits just across a cell boundary still reaches it unless all
    ``route_probe`` cells miss); (4) a cell-cogrouped Arrow kernel
    scores each cell's vectors against that cell's fine centroids
    only (per-task memory ~(batch + k/√k)·dim); (5) a per-id window
    over the ≤ route_probe·probe candidate rows merges to the global
    top-``probe``, ties toward the smallest cid — the same tie
    contract as the flat assigner.

    Only the √k coarse table is ever collected/broadcast; fine
    centroids stay distributed. Exactness: the distance
    ``||c||² − 2·v·c`` omits the assignment-invariant ``||v||²``, so
    scores merge correctly across cells. Recall is governed by
    ``route_probe`` (recall test vs flat assignment in
    tests/test_similarity.py); vectors routed only to empty cells
    (possible but vanishingly rare for route_probe ≥ 2) simply emit
    fewer than ``probe`` rows."""
    import numpy as np
    import pandas as pd

    from math import isqrt

    from .clustering import kmeans_fit

    k = cents.count()
    if coarse_k is None:
        coarse_k = max(2, isqrt(int(k)))
    fine = cents.select(F.col("cid").alias("fid"), F.col("cv").alias("fv"))
    # one Lloyd round is plenty for a quantizer over CENTROIDS (they
    # are already k-means means — far better separated than raw
    # data); the second round bought no routing-recall change in the
    # agreement test but ~6 more driver-blocking jobs
    coarse = kmeans_fit(fine, coarse_k, "fid", "fv", n_iter=1, seed=seed)

    fine_cells = (
        nearest_centroids(fine, coarse, probe=1, id_col="fid", vec_col="fv")
        .withColumnRenamed("cid", "cell")
        .join(fine, "fid")
    )
    vec_cells = nearest_centroids(
        vecs.select(F.col(id_col).alias("__vid"), as_double_vec(vec_col).alias("__vv")),
        coarse,
        probe=min(route_probe, coarse_k),
        id_col="__vid",
        vec_col="__vv",
        carry_vec=True,
    ).withColumnRenamed("cid", "cell")

    id_type = dict(vecs.dtypes)[id_col]

    def per_cell(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if not len(left) or not len(right):
            return pd.DataFrame({"__vid": [], "cid": [], "__d": []})
        fids, Fm, fn = _centroid_table(zip(right["fid"].values, right["fv"].values))
        pick, D = _nearest(np.stack(left["__vv"].values), Fm, fn, probe)
        rows = np.repeat(np.arange(len(left)), pick.shape[1])
        cols = pick.reshape(-1)
        return pd.DataFrame(
            {
                "__vid": left["__vid"].values[rows],
                "cid": fids[cols].astype(np.int32),
                "__d": D[rows, cols],
            }
        )

    cand = (
        vec_cells.groupby("cell")
        .cogroup(fine_cells.groupby("cell"))
        .applyInPandas(per_cell, f"__vid {id_type}, cid int, __d double")
    )
    w = Window.partitionBy("__vid").orderBy(F.col("__d"), F.col("cid"))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= probe)
        .select(F.col("__vid").alias(id_col), "cid")
    )


def _centroid_table(pairs):
    """(cid, cv) pairs → ``(cids, C, ‖c‖²)`` numpy arrays sorted by
    cid, the table :func:`_nearest` ranks against."""
    import numpy as np

    ent = sorted(((int(c), list(v)) for c, v in pairs), key=lambda e: e[0])
    C = np.array([v for _, v in ent], dtype=np.float64)
    return np.array([c for c, _ in ent], dtype=np.int64), C, (C * C).sum(axis=1)


def _nearest(V, C, cn, p: int):
    """The nearest-centroid kernel: for each row of ``V`` (b, dim),
    the column indices of its ``p`` nearest rows of the cid-sorted
    table ``C`` (k, dim), nearest first, and the (b, k) distance
    matrix ``‖c‖² − 2·v·c`` (``‖v‖²`` is rank-invariant and left
    out). Ties break toward the smaller column, i.e. the smaller cid:
    ``argmin`` takes the first hit, and the top-p select keeps
    stable-argsort order."""
    import numpy as np

    D = cn - 2.0 * (V @ C.T)
    p = min(p, D.shape[1])
    if p == 1:
        return D.argmin(axis=1)[:, None], D
    if p == D.shape[1]:
        return np.argsort(D, axis=1, kind="stable")[:, :p], D
    # O(k) select of the top-p, then stable-sort only the p
    # candidates — a full stable argsort of all k distances is
    # O(k log k) per row and sorts the whole (batch, k) matrix just to
    # take the top 3-4 once auto-k reaches 2¹⁶. Sorting the candidate
    # COLUMN INDICES ascending first, then a stable value sort,
    # reproduces full-argsort tie semantics within the selected set.
    part = np.argpartition(D, p - 1, axis=1)[:, :p]
    part.sort(axis=1)
    vals = np.take_along_axis(D, part, axis=1)
    pick = np.take_along_axis(part, np.argsort(vals, axis=1, kind="stable"), axis=1)
    # BOUNDARY ties (a tie spanning the p-th slot) let argpartition
    # keep an arbitrary tied member; redo the rows where an
    # unselected column equals the p-th value with the full stable
    # sort — exact float64 ties only arise from duplicate centroids,
    # so this path is O(rare · k log k).
    vmax = vals.max(axis=1)
    tied = (D == vmax[:, None]).sum(axis=1) > (vals == vmax[:, None]).sum(axis=1)
    if tied.any():
        pick[tied] = np.argsort(D[tied], axis=1, kind="stable")[:, :p]
    return pick, D


def nearest_centroids(
    vecs: DataFrame,
    cents: DataFrame,
    probe: int = 1,
    id_col: str = "id",
    vec_col: str = "v",
    carry_vec: bool = False,
) -> DataFrame:
    """``probe`` nearest centroids (squared L2) per vector as (id[, v],
    cid) rows — the assigner behind ``kmeans_fit``'s Lloyd loop,
    ``kmeans_assign`` and ``semantic_neardup``'s bucketing. The
    oracled IVF path (:func:`ivf_assign`) ranks by cosine in JVM
    folds instead: its assignment is part of q42's oracle contract.

    Why a Pandas kernel: assignment scores N×k distances, and the
    ``zip_with``/``aggregate`` fold evaluates interpreted (outside
    whole-stage codegen) at ~ms per row-pair — fine for N×k at probe
    scale, a bottleneck once k grows toward the √N centroid counts a
    real IVF/bucketing fit wants. The GEMM computes a whole Arrow
    batch against all k centroids in one BLAS call; the k×dim
    centroid table is collect()-bounded (same contract as the
    hyperplane-LSH planes and `cosine_topk_pandas`' query set) and
    ships in the task closure.

    Determinism: ties break toward the smallest cid (:func:`_nearest`).
    BLAS summation order differs from a sequential fold in the last
    ulps, so no oracled output depends on these picks. Only vectors
    of exactly the centroids' dim are assigned: a null or
    other-length vector gets no row."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    # ``cents`` may be a pre-collected list of (cid, cv) rows — the
    # kmeans_fit Lloyd loop keeps generations driver-side between
    # iterations (optimization round 12, the pq_fit trim) and skips
    # the per-iteration collect job this would otherwise run
    rows = cents if isinstance(cents, list) else cents.select("cid", "cv").collect()

    id_field = vecs.schema[id_col]
    vec_field = vecs.schema[vec_col]
    fields = [StructField(id_col, id_field.dataType)]
    if carry_vec:
        fields.append(StructField(vec_col, vec_field.dataType))
    fields.append(StructField("cid", IntegerType()))
    out_schema = StructType(fields)

    if not rows:
        # empty centroid table (empty-corpus fit): no assignments
        return local_frame(vecs.sparkSession, [], out_schema)

    cids, C, cn = _centroid_table((r["cid"], r["cv"]) for r in rows)

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pick, _ = _nearest(np.stack(pdf[vec_col].values), C, cn, probe)
            p = pick.shape[1]
            cols = {
                id_col: np.repeat(pdf[id_col].values, p),
                "cid": cids[pick].reshape(-1).astype(np.int32),
            }
            if carry_vec:
                cols[vec_col] = [
                    v for v in pdf[vec_col].values for _ in range(p)
                ]
            yield pd.DataFrame(cols)[
                [id_col, vec_col, "cid"] if carry_vec else [id_col, "cid"]
            ]

    # null/ragged vectors can't enter np.stack (same guard as the
    # hyperplane kernel): drop them before the Arrow exchange.
    # Input partitioning is the CALLER's contract: an automatic
    # repartition here would re-shuffle every Lloyd iteration for
    # nothing — measured ~0.5 s/query at fixture scale, where the
    # k×batch GEMMs are far cheaper than one extra exchange (and a
    # real warehouse scan arrives multi-split anyway).
    clean = vecs.select(id_col, vec_col).where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == C.shape[1])
    )
    return clean.mapInPandas(kern, out_schema)
