"""Similarity-search operators: brute force vs Pandas-GEMM vs IVF."""

from pyspark.sql import functions as F

from cr_data_pipeline_project_spark.catalog import table
from cr_data_pipeline_project_spark.operators import similarity

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return table(spark, "embeddings", SF)


def test_bruteforce_topk_self_excluded_and_ranked(spark):
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(emb, queries, k=4).collect()
    assert len(out) == 12
    by_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["score"]))
    for q, rows in by_q.items():
        rows.sort()
        scores = [s for _, s in rows]
        assert scores == sorted(scores, reverse=True)


def test_pandas_gemm_matches_fold_neighbors(spark):
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 5)
    fold = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    gemm = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in similarity.cosine_topk_pandas(emb, queries, k=5).collect()
    }
    assert set(fold) == set(gemm)
    for k in fold:
        assert fold[k][0] == gemm[k][0], k  # same neighbor
        assert abs(fold[k][1] - gemm[k][1]) < 1e-9, k  # BLAS vs fold ulp


def test_ivf_assign_unique_cluster(spark):
    emb = _emb(spark)
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assign = similarity.ivf_assign(emb, cents)
    assert assign.count() == emb.count()
    assert assign.select("vec_id").distinct().count() == emb.count()


def test_hyperplane_lsh_finds_planted_neardups(spark):
    """Plant genuinely-close vectors (cos ≈ 0.99): hyperplane LSH at
    8 planes × 8 tables must recover them (theoretical recall ≈ 1 at
    high cosine)."""
    import random

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, [float(x) for x in v], 0))
        noisy = [float(x + rng.gauss(0, 0.05)) for x in v]  # near-dup twin
        rows.append((i * 2 + 1, noisy, 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    found = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.hyperplane_lsh_neardup(
            df, threshold=0.9, n_planes=8, n_tables=8
        ).collect()
    }
    planted = {(i * 2, i * 2 + 1) for i in range(20)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, (recall, found)
    # verification step guarantees no false positives
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_neardup_pairs(df, threshold=0.9).collect()
    }
    assert found <= exact


def test_ivf_recall_reasonable(spark):
    """nprobe=4 of 16 clusters should recover most true neighbors —
    sanity floor, not a tuned guarantee."""
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 10)
    cents = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, queries, cents, k=5, nprobe=4).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.3, recall


def test_hyperplane_lsh_skips_malformed_vectors(spark, sf_dir):
    """A null or wrong-dimension embedding must be dropped, not crash
    the whole job in np.stack (advisor round 3)."""
    from pyspark.sql import functions as F

    from cr_data_pipeline_project_spark.operators.similarity import (
        hyperplane_lsh_neardup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    bad = spark.createDataFrame(
        [(90001, None), (90002, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    mixed = emb.select("vec_id", "embedding").unionByName(bad)
    out = hyperplane_lsh_neardup(mixed).collect()
    ids = {r["vec_a"] for r in out} | {r["vec_b"] for r in out}
    assert 90001 not in ids and 90002 not in ids


def test_q48_recall_gate(spark, sf_dir):
    """Round gate for q48's operating point (round-3 verdict #9): the
    registered query must recover >=0.95 of its planted near-dup
    pairs at fixture scale, so a future (planes, tables, threshold)
    change can't silently degrade recall. Also records
    (recall, n_pairs) as a per-round artifact."""
    import json
    import os

    from cr_data_pipeline_project_spark.plans import all_queries

    out = all_queries()["q48_ann_hyperplane_lsh"](spark, sf_dir).collect()
    found = {(r["vec_a"], r["vec_b"]) for r in out}
    # ground truth: each vec_id < 100 has a planted twin at +1_000_000
    n_base = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where("vec_id < 100")
        .count()
    )
    planted = {(i, i + 1_000_000) for i in range(n_base)}
    recall = len({(min(a, b), max(a, b)) for a, b in found} & planted) / n_base
    artifact = {
        "query": "q48_ann_hyperplane_lsh",
        "recall_planted": round(recall, 4),
        "n_pairs": len(found),
        "n_planted": n_base,
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "docs", "metrics", "q48_recall.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    assert recall >= 0.95, artifact


def test_semantic_neardup_recall_and_precision(spark, sf_dir):
    """Cluster-bucketed semantic dedup vs the exact O(N²) pair set:
    precision must be exact (every emitted pair is cosine-verified);
    recall across k-means boundaries must stay high with probe=4."""
    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators.similarity import (
        cosine_neardup_pairs,
        semantic_neardup,
    )

    emb = table(spark, "embeddings", sf_dir)
    exact = {
        (r.vec_a, r.vec_b)
        for r in cosine_neardup_pairs(emb, threshold=0.45).collect()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in semantic_neardup(
            emb, "vec_id", "embedding", threshold=0.45, n_iter=1, probe=4
        ).collect()
    }
    assert got <= exact  # exact verification ⇒ no false positives
    assert len(exact) > 0
    recall = len(got & exact) / len(exact)
    # per-round artifact, same contract as q48's: a parameter change
    # (k, probe, n_iter) can't silently degrade recall
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "docs", "metrics", "q91_recall.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "query": "q91_semantic_neardup",
                "recall_vs_exact": round(recall, 4),
                "n_exact_pairs": len(exact),
                "n_found": len(got),
            },
            f,
            indent=1,
        )
    assert recall >= 0.9, f"semantic dedup recall {recall:.2f}"


def test_gemm_verify_blocking_invariant(spark, sf_dir, monkeypatch):
    """The blocked per-cluster GEMM (O(B·m) worker memory) must be
    invisible in the results: a degenerate 1-row block budget and an
    effectively-unblocked budget produce identical pair sets AND
    identical rounded scores."""
    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators import similarity

    emb = table(spark, "embeddings", sf_dir)

    def run():
        return {
            (r.vec_a, r.vec_b): r.score
            for r in similarity.semantic_neardup(
                emb, "vec_id", "embedding", threshold=0.45, n_iter=1,
                probe=2,
            ).collect()
        }

    monkeypatch.setattr(similarity, "_GEMM_BLOCK_ELEMS", 1)
    tiny = run()
    monkeypatch.setattr(similarity, "_GEMM_BLOCK_ELEMS", 10**9)
    big = run()
    assert tiny == big
    assert len(big) > 0


def test_nearest_centroids_argpartition_tie_semantics(spark):
    """The O(k) argpartition select must reproduce the full stable
    argsort's pick order — including ties breaking toward the
    smallest cid (centroids 1 and 3 are identical here, so every
    vector is equidistant to both)."""
    import numpy as np

    from cr_data_pipeline_project_spark.operators.similarity import (
        nearest_centroids,
    )

    rng = np.random.default_rng(7)
    C = rng.normal(size=(6, 4)).round(3)
    C[3] = C[1]  # exact duplicate centroid → distance ties
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(40)],
        "id bigint, v array<double>",
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(6)],
        "cid int, cv array<double>",
    )
    got = {}
    for r in nearest_centroids(vecs, cents, probe=3).collect():
        got.setdefault(r.id, []).append(r.cid)

    V = np.array(
        [r.v for r in vecs.orderBy("id").collect()], dtype=np.float64
    )
    D = (C * C).sum(axis=1) - 2.0 * (V @ C.T)
    want = np.argsort(D, axis=1, kind="stable")[:, :3]
    tie_seen = 0
    for i in range(40):
        assert got[i] == [int(c) for c in want[i]], i
        # whenever the duplicate-centroid tie reaches the top-3, the
        # smaller cid (1) must rank first — cid 3 can only appear
        # after it (both fit when the tie spans two of the 3 slots)
        if 1 in got[i] or 3 in got[i]:
            assert 1 in got[i], got[i]
            if 3 in got[i]:
                assert got[i].index(1) < got[i].index(3), got[i]
            tie_seen += 1
    assert tie_seen > 0


def test_two_level_routing_matches_flat(spark, sf_dir):
    """nearest_centroids_two_level (the past-2^16-k escape hatch) must
    agree with the flat assigner at fixture scale — multi-probe cell
    routing recovers ≥95% of the flat (id, cid) assignments — and
    semantic_neardup(routing='two_level') must keep exact precision
    and high recall vs the O(N²) pair baseline."""
    from pyspark.sql import functions as F

    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators.clustering import kmeans_fit
    from cr_data_pipeline_project_spark.operators.similarity import (
        as_double_vec,
        cosine_neardup_pairs,
        nearest_centroids,
        nearest_centroids_two_level,
        semantic_neardup,
    )

    emb = table(spark, "embeddings", sf_dir)
    v = emb.select(
        F.col("vec_id").alias("id"), as_double_vec("embedding").alias("v")
    )
    cents = kmeans_fit(emb, 16, "vec_id", "embedding", 1)
    flat = {(r.id, r.cid) for r in nearest_centroids(v, cents, probe=3).collect()}
    two = {
        (r.id, r.cid)
        for r in nearest_centroids_two_level(v, cents, probe=3).collect()
    }
    assert len(flat) > 0
    assert len(flat & two) / len(flat) >= 0.95

    exact = {
        (r.vec_a, r.vec_b)
        for r in cosine_neardup_pairs(emb, threshold=0.45).collect()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in semantic_neardup(
            emb, "vec_id", "embedding", threshold=0.45, n_iter=1, probe=4,
            routing="two_level",
        ).collect()
    }
    assert got <= exact  # exact GEMM verification ⇒ no false positives
    assert len(got & exact) / max(len(exact), 1) >= 0.9


def test_embedding_family_has_one_kernel():
    """One nearest-centroid distance, one ADC scan, no engine switch:
    an ``ast`` scan fails if any of these comes back — a second
    function under operators/ computing ``… − 2.0 * (… @ …)``, a
    second ADC ``mapInPandas`` in pq.py (its other one is the
    subspace assign), or an ``engine``/``verify`` parameter in
    similarity.py, clustering.py or dedup.py."""
    import ast
    import pathlib

    ops = pathlib.Path(similarity.__file__).parent

    def sites(path, hit):
        """Names of the innermost functions holding a node ``hit``
        accepts, one entry per node."""
        out = []

        def walk(node, fn):
            for child in ast.iter_child_nodes(node):
                name = fn
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name
                if hit(child):
                    out.append(name)
                walk(child, name)

        walk(ast.parse(path.read_text()), None)
        return out

    def centroid_distance(n):
        return (
            isinstance(n, ast.BinOp)
            and isinstance(n.op, ast.Sub)
            and isinstance(n.right, ast.BinOp)
            and isinstance(n.right.op, ast.Mult)
            and isinstance(n.right.left, ast.Constant)
            and n.right.left.value == 2
            and isinstance(n.right.right, ast.BinOp)
            and isinstance(n.right.right.op, ast.MatMult)
        )

    found = {
        (p.name, fn)
        for p in sorted(ops.glob("*.py"))
        for fn in sites(p, centroid_distance)
    }
    assert found == {("similarity.py", "_nearest")}, found

    def map_in_pandas(n):
        return isinstance(n, ast.Attribute) and n.attr == "mapInPandas"

    assert sorted(sites(ops / "pq.py", map_in_pandas)) == [
        "_adc_topk", "_assign_all_subs"
    ]

    for name in ("similarity.py", "clustering.py", "dedup.py"):
        for node in ast.walk(ast.parse((ops / name).read_text())):
            if isinstance(node, (ast.FunctionDef, ast.Lambda)):
                a = node.args
                args = a.posonlyargs + a.args + a.kwonlyargs
                bad = {x.arg for x in args} & {"engine", "verify"}
                assert not bad, (name, getattr(node, "name", "lambda"), bad)
