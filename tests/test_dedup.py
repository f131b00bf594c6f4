"""Dedup operators on synthetic corpora with planted duplicates."""

from pyspark.sql import functions as F

from cr_data_pipeline_project_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles rows across partitions and joins tables with hash keys"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # 1-word change → high jaccard
FAR = (
    "completely different content about databases columns vectors batch "
    "processing stream windows watermark state and checkpoint recovery path"
)


def _docs(spark):
    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, FAR), (5, FAR + " extra")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = {
        r["keep_id"]: r["dup_count"]
        for r in dedup.exact_dedup_groups(_docs(spark), "text", "doc_id").collect()
    }
    assert out[1] == 2  # docs 1,2 identical
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_exact_dedup_keep(spark):
    kept = sorted(
        r["doc_id"] for r in dedup.exact_dedup_keep(_docs(spark), "text", "doc_id").collect()
    )
    assert kept == [1, 3, 4, 5]


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only three words")], "doc_id long, text string")
    sh = dedup.shingle_set(df, "text", "doc_id", n=5).collect()
    assert len(sh) == 1 and sh[0]["shingle"] == "only three words"


def test_ngram_jaccard_finds_near_pair(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dups
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # near dup
    assert (2, 3) in pairs
    assert (4, 5) in pairs  # shared prefix → near dup
    # no cross-pairs between the BASE family and the FAR family
    assert not any(a in (1, 2, 3) and b in (4, 5) for a, b in pairs)


def test_minhash_lsh_agrees_with_exact(spark):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), "text", "doc_id", threshold=0.5
        ).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            _docs(spark), "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert lsh == exact


def test_simhash_identical_docs_hamming_zero(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(_docs(spark), "text", "doc_id").collect()
    }
    assert pairs[(1, 2)] == 0


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    # 50 identical docs → one giant bucket; cap must drop it.
    rows = [(i, BASE) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(df, "text", "doc_id")
    cand = dedup.lsh_candidate_pairs(sigs, "doc_id", max_bucket=10)
    assert cand.count() == 0


def test_ngram_hot_shingle_cap_bounds_candidates(spark):
    """Planted boilerplate: every doc shares one hot 5-gram ("this
    document is licensed under") but is otherwise unique. With the
    cap below the corpus size the hot shingle is excluded from the
    inverted index, so candidate count collapses from O(N²) to 0."""
    boiler = "this document is licensed under"
    rows = [
        (i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i} delta{i}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingle_set(docs, "text", "doc_id", n=5)
    uncapped = dedup.ngram_candidate_pairs(sh, "doc_id", max_doc_freq=1000)
    capped = dedup.ngram_candidate_pairs(sh, "doc_id", max_doc_freq=10)
    assert uncapped.count() == 30 * 29 // 2  # hot shingle pairs everyone
    assert capped.count() == 0

    # End-to-end: capped run still finds nothing ≥ threshold (the
    # boilerplate-only overlaps are far below 0.7 jaccard anyway).
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.7, max_doc_freq=10
    )
    assert pairs.count() == 0


def test_winnow_guarantee_and_compression(spark):
    """Winnowing guarantee: two docs sharing a run of >= k+window-1
    tokens share at least one fingerprint; fingerprint count is well
    under the gram count."""
    from cr_data_pipeline_project_spark.operators.dedup import (
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog today"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} closing remarks"),
            (2, f"completely different opening {shared} and another tail"),
            (3, "nothing in common with those other documents at all ok"),
        ],
        "doc_id int, text string",
    )
    fps = winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)
    by_doc = {
        d: {r["fp"] for r in rows}
        for d, rows in __import__("itertools").groupby(
            sorted(fps.collect(), key=lambda r: r["doc_id"]),
            key=lambda r: r["doc_id"],
        )
    }
    assert by_doc[1] & by_doc[2], "shared 10-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # compression: far fewer fingerprints than grams (10+ grams/doc)
    assert all(len(v) <= 6 for v in by_doc.values())


def test_winnow_short_doc_single_fingerprint(spark):
    from cr_data_pipeline_project_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc")], "doc_id int, text string"
    )
    rows = winnow_fingerprints(docs, "text", "doc_id").collect()
    assert len(rows) == 2
    assert len({r["fp"] for r in rows}) == 1  # identical short docs agree


def _simhash_expr(df, text_col, id_col, n=5):
    """Reference SimHash in pure whole-stage-codegen expressions:
    distinct shingles, md5 halves projected once per row, then one
    groupBy with a count and 64 bit-sums (per bit k the sign of
    sum(±1) = 2·sum(bit_k) − n)."""
    from pyspark.sql import functions as F

    from cr_data_pipeline_project_spark.operators.dedup import (
        _md5_half,
        shingle_set,
    )

    sh = shingle_set(df, text_col, id_col, n).select(
        F.col(id_col),
        _md5_half(F.col("shingle"), 1).alias("__hi"),
        _md5_half(F.col("shingle"), 9).alias("__lo"),
    )
    sums = [F.count(F.lit(1)).alias("__n")]
    for k in range(32):
        for half in ("hi", "lo"):
            sums.append(
                F.sum(F.shiftright(F.col(f"__{half}"), k).bitwiseAND(F.lit(1)))
                .alias(f"__s{half}{k}")
            )
    agg = sh.groupBy(id_col).agg(*sums)

    def sig(half):
        return sum(
            F.when(2 * F.col(f"__s{half}{k}") - F.col("__n") >= 0, F.lit(1 << k))
            .otherwise(F.lit(0))
            for k in range(32)
        )

    return agg.select(
        F.col(id_col),
        sig("hi").cast("bigint").alias("sim_hi"),
        sig("lo").cast("bigint").alias("sim_lo"),
    )


def test_simhash_engines_agree(spark, sf_dir):
    """The Arrow SimHash kernel must be bit-identical to the
    expression reference (integer arithmetic end-to-end in both)."""
    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators.dedup import (
        simhash_signatures,
    )

    docs = table(spark, "documents", sf_dir).limit(300)
    a = {
        r["doc_id"]: (r["sim_hi"], r["sim_lo"])
        for r in simhash_signatures(docs, "text", "doc_id").collect()
    }
    b = {
        r["doc_id"]: (r["sim_hi"], r["sim_lo"])
        for r in _simhash_expr(docs, "text", "doc_id").collect()
    }
    assert a == b and len(a) == 300


def test_incremental_neardup_lifecycle(spark, tmp_path):
    """Index a corpus snapshot into a lake table, probe an arriving
    batch, catch the planted near-dup, and verify the probe touches
    only new-vs-index pairs (no corpus self-pairing)."""
    import os

    from cr_data_pipeline_project_spark import pipeline
    from cr_data_pipeline_project_spark.operators.dedup import (
        build_neardup_index,
        incremental_neardup_pairs,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, " ".join(f"other{i}" for i in range(40))),
            # two exact dups ALREADY in the corpus: must NOT appear in
            # the incremental result (old-vs-old is the batch path's job)
            (3, " ".join(f"dup{i}" for i in range(40))),
            (4, " ".join(f"dup{i}" for i in range(40))),
        ],
        "doc_id int, text string",
    )
    lake = pipeline.Lake(spark, os.path.join(str(tmp_path), "lake"))
    idx = build_neardup_index(corpus, "text", "doc_id")
    # persist + reload through the lake like a real deployment
    idx.write.mode("overwrite").parquet(os.path.join(str(tmp_path), "idx"))
    idx = spark.read.parquet(os.path.join(str(tmp_path), "idx"))

    batch = spark.createDataFrame(
        [
            (100, base + " extra"),  # near-dup of doc 1
            (101, " ".join(f"fresh{i}" for i in range(40))),
        ],
        "doc_id int, text string",
    )
    got = incremental_neardup_pairs(
        batch, idx, "text", "doc_id", threshold=0.7
    ).collect()
    assert {(r["new_id"], r["index_id"]) for r in got} == {(100, 1)}
    assert all(r["jaccard"] >= 0.7 for r in got)

    # max_bucket is a build-time threshold: combining a non-default
    # value with a prebuilt index_bands table must raise, not
    # silently keep the build-time threshold
    import pytest

    from cr_data_pipeline_project_spark.operators.dedup import (
        explode_index_bands,
    )

    bands_tbl = explode_index_bands(idx, "doc_id")
    with pytest.raises(ValueError, match="max_bucket"):
        incremental_neardup_pairs(
            batch, idx, "text", "doc_id",
            max_bucket=5, index_bands=bands_tbl,
        )


def test_drop_hot_buckets_prepass(spark):
    """The count-prepass removes over-cap bucket keys BEFORE any
    collect_set buffers their members (round-3 verdict #5): a hot
    boilerplate bucket contributes no rows downstream, normal
    buckets are untouched, and _bucket_pairs over the same input
    pairs only the surviving buckets."""
    from pyspark.sql import functions as F

    from cr_data_pipeline_project_spark.operators.dedup import (
        _bucket_pairs,
        _drop_hot_buckets,
    )

    cap = 5
    rows = [("hot", i) for i in range(cap + 3)] + [
        ("ok", 100),
        ("ok", 101),
        ("ok2", 200),
    ]
    df = spark.createDataFrame(rows, "k string, doc int")

    kept = _drop_hot_buckets(df, ["k"], cap)
    assert {r["k"] for r in kept.collect()} == {"ok", "ok2"}

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in _bucket_pairs(df, ["k"], "doc", max_bucket=cap).collect()
    }
    assert pairs == {(100, 101)}


# ------------------------------------------------------------------ #
# chunk-level dedup                                                   #
# ------------------------------------------------------------------ #


def _chunked_docs(spark):
    # 4-token chunks: doc1 = A B; doc2 = B C (B duplicates doc1's);
    # doc3 = A B (fully duplicate → disappears)
    a = "alpha beta gamma delta"
    b = "epsilon zeta eta theta"
    c = "iota kappa lambda mu"
    rows = [(1, f"{a} {b}"), (2, f"{b} {c}"), (3, f"{a} {b}")]
    return spark.createDataFrame(rows, "doc_id long, text string"), (a, b, c)


def test_chunk_dedup_first_occurrence_wins(spark):
    df, (a, b, c) = _chunked_docs(spark)
    got = {
        r.doc_id: r
        for r in dedup.chunk_dedup_keep(df, "text", "doc_id", chunk_tokens=4).collect()
    }
    assert got[1].clean_text == f"{a} {b}"
    assert (got[1].n_chunks, got[1].n_kept) == (2, 2)
    # doc2 loses its first chunk (b, already in doc1) and keeps c
    assert got[2].clean_text == c
    assert (got[2].n_chunks, got[2].n_kept) == (2, 1)
    # doc3 is entirely boilerplate → no output row
    assert 3 not in got


def test_chunk_dedup_ragged_tail(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five")], "doc_id long, text string"
    )
    [row] = dedup.chunk_dedup_keep(df, "text", "doc_id", chunk_tokens=4).collect()
    assert row.clean_text == "one two three four five"
    assert (row.n_chunks, row.n_kept) == (2, 2)


# ------------------------------------------------------------------ #
# n-gram decontamination                                              #
# ------------------------------------------------------------------ #


def test_ngram_contamination_counts(spark):
    train = spark.createDataFrame(
        [
            (1, BASE),                       # contains test's 5-grams
            (2, FAR),                        # disjoint vocabulary
        ],
        "doc_id long, text string",
    )
    test_docs = spark.createDataFrame(
        [(100, BASE)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n_shared_grams
        for r in dedup.ngram_contamination(
            train, test_docs, "text", "doc_id", n=5
        ).collect()
    }
    n_grams_in_base = len(BASE.split()) - 4
    assert got == {1: n_grams_in_base}  # doc2 absent: zero overlap


def test_fuzzy_blocked_pairs_typos_and_hot_block_guard(spark):
    """Edit-distance blocking: a small in-place typo pairs (shared
    prefix block, dist = actual edit count), a different-prefix near
    match is invisible (blocking contract), and a degenerate block
    beyond max_block contributes no pairs (the LSH max_bucket
    posture)."""
    from cr_data_pipeline_project_spark.operators.dedup import (
        fuzzy_blocked_pairs,
    )

    prefix = "alpha beta gamma delta"
    rows = [
        (1, prefix + " one two three four five six seven"),
        # one substitution inside the probe window, same block
        (2, prefix + " one two three foor five six seven"),
        # same content but different leading block: blocked out
        (3, "zzz " + prefix + " one two three four five six seven"),
        (4, "totally unrelated text with different words entirely"),
    ]
    # degenerate block: many docs sharing a boilerplate prefix
    hot = [(100 + i, "boiler plate prefix shared " + f"tail{i}") for i in range(8)]
    docs = spark.createDataFrame(rows + hot, "doc_id int, text string")

    got = fuzzy_blocked_pairs(
        docs, "text", "doc_id", block_len=16, probe_len=60, max_dist=10,
        max_block=5,
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["dist"] for r in got}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1
    assert not any(3 in p for p in pairs)  # different block
    assert not any(a >= 100 for a, _ in pairs)  # hot block dropped
    assert all(a < b for a, b in pairs)

    # without the guard the boilerplate block pairs up
    ungated = fuzzy_blocked_pairs(
        docs, "text", "doc_id", block_len=16, probe_len=60, max_dist=10,
        max_block=1000,
    ).collect()
    assert any(r["doc_a"] >= 100 for r in ungated)


def test_containment_directional_quote(spark):
    """A short document quoted verbatim inside a much longer one:
    containment flags the contained→container direction at ~1.0
    while Jaccard stays far below any useful threshold (the
    asymmetry that motivates the operator), and the container→
    contained direction does NOT qualify."""
    from cr_data_pipeline_project_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"pad{i}" for i in range(80))
    rows = [
        (1, quote),
        (2, filler + " " + quote),
        (3, "completely different words that share nothing at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    got = containment_pairs(
        docs, "text", "doc_id", n=5, threshold=0.8
    ).collect()
    directions = {(r["src"], r["sup"]): r["containment"] for r in got}
    assert (1, 2) in directions and directions[(1, 2)] == 1.0
    assert (2, 1) not in directions  # container is not contained
    assert not any(3 in d for d in directions)

    # the same pair is invisible to symmetric Jaccard at 0.7
    jac = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.7
    ).collect()
    assert not jac
