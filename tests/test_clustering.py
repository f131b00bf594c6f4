"""Distributed k-means (operators/clustering.py): Lloyd descent,
assignment correctness, determinism of seeding, and IVF recall with
fitted centroids vs the brute-force baseline."""

import pytest
from pyspark.sql import functions as F

from cr_data_pipeline_project_spark.catalog import table
from cr_data_pipeline_project_spark.operators import clustering, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return table(spark, "embeddings", SF).localCheckpoint()


def test_inertia_decreases_over_iterations(spark, emb):
    c0 = clustering.kmeans_fit(emb, k=8, id_col="vec_id", vec_col="embedding", n_iter=0)
    c3 = clustering.kmeans_fit(emb, k=8, id_col="vec_id", vec_col="embedding", n_iter=3)
    i0 = clustering.inertia(emb, c0, id_col="vec_id", vec_col="embedding")
    i3 = clustering.inertia(emb, c3, id_col="vec_id", vec_col="embedding")
    assert i3 < i0  # Lloyd monotonically improves from the seed set


def test_fit_shape_and_assignment_total(spark, emb):
    k = 8
    cents = clustering.kmeans_fit(
        emb, k=k, id_col="vec_id", vec_col="embedding", n_iter=2
    )
    rows = cents.collect()
    assert len(rows) <= k  # clusters can die, never multiply
    assert {r["cid"] for r in rows} <= set(range(k))
    dim = len(rows[0]["cv"])
    assert all(len(r["cv"]) == dim for r in rows)

    assign = clustering.kmeans_assign(
        emb, cents, id_col="vec_id", vec_col="embedding"
    )
    n = emb.count()
    assert assign.count() == n  # every vector assigned exactly once
    assert assign.select("vec_id").distinct().count() == n


def test_assignment_is_nearest_centroid(spark, emb):
    """Cross-check the aggregate-argmin against a literal min over
    all centroid distances for a sample of vectors."""
    cents = clustering.kmeans_fit(
        emb, k=4, id_col="vec_id", vec_col="embedding", n_iter=1
    )
    assign = {
        r["vec_id"]: r["cluster_id"]
        for r in clustering.kmeans_assign(
            emb.limit(20), cents, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    cent_rows = {r["cid"]: r["cv"] for r in cents.collect()}
    for row in emb.limit(20).collect():
        v = [float(x) for x in row["embedding"]]
        best = min(
            cent_rows,
            key=lambda c: (
                sum((a - b) ** 2 for a, b in zip(v, cent_rows[c])),
                c,
            ),
        )
        assert assign[row["vec_id"]] == best


def test_seeding_deterministic(spark, emb):
    a = clustering.kmeans_fit(emb, k=5, id_col="vec_id", vec_col="embedding", n_iter=0)
    b = clustering.kmeans_fit(emb, k=5, id_col="vec_id", vec_col="embedding", n_iter=0)
    ra = sorted((r["cid"], tuple(r["cv"])) for r in a.collect())
    rb = sorted((r["cid"], tuple(r["cv"])) for r in b.collect())
    assert ra == rb  # hash-sample seeds do not depend on partitioning


def test_ivf_recall_with_fitted_centroids(spark, emb):
    """Fitted centroids must give the IVF search decent recall vs the
    exact brute-force top-k (the whole point of replacing the
    id-prefix stand-in)."""
    cents = clustering.kmeans_fit(
        emb, k=8, id_col="vec_id", vec_col="embedding", n_iter=3
    )
    queries = emb.where(F.col("vec_id") < 10)
    approx = similarity.ivf_topk(
        emb, queries, cents, id_col="vec_id", vec_col="embedding", k=5, nprobe=3
    )
    exact = similarity.brute_force_topk(emb, queries, k=5)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.6  # nprobe 3/8 of a 3-iter fit


def _fold_assign(vecs, cents):
    """Reference assign: broadcast join + struct-min aggregate over a
    sequential squared-L2 fold — pure JVM, bit-reproducible, ties
    toward the smallest cid. (_id, vd) × (cid, cv) → (_id, cid)."""
    d = F.aggregate(
        F.zip_with("vd", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        vecs.join(F.broadcast(cents))
        .groupBy("_id")
        .agg(F.min(F.struct(d.alias("_d"), F.col("cid"))).alias("_m"))
        .select("_id", F.col("_m.cid").alias("cid"))
    )


def test_arrow_assign_matches_expr_fold(spark, emb):
    """kmeans_assign's GEMM must agree with the bit-reproducible
    struct-min fold on the fixture (distances between fitted
    centroids are far wider than BLAS-vs-fold ulp divergence)."""
    cents = clustering.kmeans_fit(
        emb, k=4, id_col="vec_id", vec_col="embedding", n_iter=1
    )
    vecs = emb.select(
        F.col("vec_id").alias("_id"),
        similarity.as_double_vec("embedding").alias("vd"),
    )
    a = {
        (r["vec_id"], r["cluster_id"])
        for r in clustering.kmeans_assign(
            emb, cents, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    e = {(r["_id"], r["cid"]) for r in _fold_assign(vecs, cents).collect()}
    assert a == e and len(a) == emb.count()


def test_assign_null_and_ragged_vectors(spark):
    """kmeans_assign and inertia read vectors by the fit's rule: a
    vector no longer than the centroids' dim is zero-padded to it
    (empty is the origin), a null or longer vector gets no row."""
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])], "cid int, cv array<double>"
    )
    corpus = spark.createDataFrame(
        [(1, None), (2, [9.0]), (3, [9.0, 9.0, 9.0]), (4, []),
         (5, [9.0, 9.0]), (6, [1.0, 0.0])],
        "vec_id long, emb array<double>",
    )
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in clustering.kmeans_assign(corpus, cents).collect()
    }
    # [9] reads as [9, 0]: 81 from cid 0, 101 from cid 1
    assert got == {2: 0, 4: 0, 5: 1, 6: 0}
    assert clustering.inertia(corpus, cents) == 81.0 + 0.0 + 2.0 + 1.0


def test_nearest_centroids_drops_null_and_ragged(spark, emb):
    """Null or wrong-dimension vectors are filtered before the Arrow
    exchange (np.stack would throw on them), not crash the job —
    same guard as the hyperplane kernel."""
    cents = clustering.kmeans_fit(
        emb, k=3, id_col="vec_id", vec_col="embedding", n_iter=0
    )
    dim = len(cents.collect()[0]["cv"])
    bad = spark.createDataFrame(
        [(100001, None), (100002, [0.5] * (dim - 1))],
        f"id long, v array<double>",
    )
    good = emb.select(
        F.col("vec_id").alias("id"),
        similarity.as_double_vec("embedding").alias("v"),
    )
    n_good = good.count()
    out = similarity.nearest_centroids(
        good.unionByName(bad), cents, probe=2, id_col="id", vec_col="v"
    )
    ids = {r["id"] for r in out.collect()}
    assert 100001 not in ids and 100002 not in ids
    assert out.count() == 2 * n_good


def test_arrow_assign_empty_and_string_ids(spark, emb):
    """Review regressions: an empty centroid table yields zero
    assignments (not a numpy crash), and the kernel's output schema
    follows the id column's actual type instead of assuming long."""
    empty_cents = spark.createDataFrame([], "cid int, cv array<double>")
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        similarity.as_double_vec("embedding").alias("v"),
    )
    assert (
        similarity.nearest_centroids(vecs, empty_cents, probe=2, id_col="id", vec_col="v").count()
        == 0
    )
    cents = clustering.kmeans_fit(
        emb, k=3, id_col="vec_id", vec_col="embedding", n_iter=1
    )
    sids = vecs.select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("id"), "v"
    )
    out = similarity.nearest_centroids(sids, cents, probe=1, id_col="id", vec_col="v")
    rows = out.collect()
    assert len(rows) == vecs.count()
    assert all(r["id"].startswith("doc-") for r in rows)


def test_fit_pads_ragged_corpus_to_longest_vector(spark):
    """dim comes from the whole corpus, not the seeds: a 3-element
    vector outside the seed set still widens every centroid, and
    shorter vectors count as zero-padded."""
    order = [
        r["vec_id"]
        for r in spark.range(12).withColumnRenamed("id", "vec_id")
        .orderBy(F.xxhash64("vec_id", F.lit(42)))
        .collect()
    ]
    # the two seeds (first in hash order) open two well-separated
    # groups at x=0 and x=10; the last in hash order is never a seed
    rows = [(i, [10.0 * (j % 2), 0.1 * j]) for j, i in enumerate(order)]
    rows[-1] = (order[-1], [10.0, 1.0, 5.0])
    k = 2
    corpus = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    cents = {r["cid"]: r["cv"] for r in clustering.kmeans_fit(corpus, k, n_iter=2).collect()}
    assert all(len(cv) == 3 for cv in cents.values())
    assert all(x is not None and x == x for cv in cents.values() for x in cv)
    # the long vector's third element lands in its cluster's mean
    # (1 of 6 members); the other cluster holds 0.0 there
    assert sorted(cv[2] for cv in cents.values()) == [0.0, 5.0 / 6]


def test_fit_on_empty_corpus_returns_no_centroids(spark):
    empty = spark.createDataFrame([], "vec_id long, emb array<double>")
    for n_iter in (0, 2):
        cents = clustering.kmeans_fit(empty, k=3, n_iter=n_iter)
        assert cents.columns == ["cid", "cv"]
        assert cents.count() == 0
