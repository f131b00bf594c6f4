"""Deduplication operators for large-scale text corpora: exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

All are DataFrame compositions with JVM-side hashing (``xxhash64`` /
``md5``) staying inside whole-stage codegen until the unavoidable
shuffles — except the SimHash signature step, a per-document local
reduction that runs as one Arrow-batched mapInPandas pass
(bit-identical to the pure-expression form that tests/test_dedup.py
keeps as its reference).

Scale notes (100 TB corpus)
---------------------------
- ``exact_dedup``: one shuffle on the content hash. Hash first,
  shuffle the (hash, doc_id) projection only — never shuffle the
  document bodies.
- MinHash: the shingle explosion is the expensive map side
  (~|doc|/token shingles per doc); signatures reduce each doc to
  ``num_hashes`` ints before any shuffle. Banding turns candidate
  generation into an equi-join on (band_idx, band_hash) — a skew
  hazard when a band bucket is hot (boilerplate documents). Cap
  bucket size (``max_bucket``) exactly like production LSH systems
  drop degenerate buckets.
- SimHash: one shuffle (groupBy doc) to build the 64-bit signature,
  one equi-join on 8-bit chunks for candidates (pigeonhole: hamming
  ≤ 7 over 8 chunks ⇒ ≥ 1 identical chunk).
- Verification joins operate on candidate *pairs* (tiny vs corpus);
  the shingle-set join for exact Jaccard prunes to candidate docs via
  a semi join before exploding.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

# ------------------------------------------------------------------ #
# exact dedup                                                         #
# ------------------------------------------------------------------ #


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical content by md5; representative = min id.
    Returns (content_hash, keep_id, dup_count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup_keep(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deduplicated view of ``df``: the min-id row per distinct
    content survives. Deterministic (window over content hash)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------------------ #
# shingling                                                           #
# ------------------------------------------------------------------ #


def shingle_set(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """Distinct word n-gram shingles per document:
    (id_col, shingle). Documents shorter than ``n`` words contribute
    their full text as one shingle.

    Precondition: ``id_col`` is a KEY (one row per id) — every
    caller passes the corpus primary key, and the adversary fixtures
    keep ids non-null/unique by contract. Under it, per-row
    ``array_distinct`` already makes (id, shingle) globally unique,
    so no cross-row distinct is needed (one was carried until
    optimization round 12 — a pure no-op hash aggregate over the
    exploded rows, measured ~0.1 s per evaluation at sf0.1 across
    the ~15 queries that consume this table)."""
    # Tokenize into a projected column FIRST: referenced directly
    # inside the transform lambda, split(text) would be re-evaluated
    # once per shingle (~|doc|/token times per row) — HOF lambdas get
    # no subexpression elimination against the enclosing row.
    tokens = F.col("__toks")
    idxs = F.sequence(F.lit(1), F.greatest(F.size(tokens) - (n - 1), F.lit(1)))
    shingles = F.transform(
        idxs, lambda i: F.concat_ws(" ", F.slice(tokens, i, n))
    )
    # Repartition by id BEFORE the tokenize/explode, for two reasons:
    # (1) parallelism — the shingle expressions are the expensive
    # per-row compute, and a narrow scan of a few input splits (one,
    # for the single-file fixtures) would otherwise run them on as
    # many cores as there are splits; the shuffle moves compact doc
    # rows, not the ~|doc|/token× larger shingle rows. (2) plan shape
    # — HashPartitioning(id) satisfies the (id, shingle) clustering
    # the distinct needs AND the groupBy(id) every signature
    # aggregate downstream needs, so that one doc-sized shuffle
    # replaces two shingle-sized ones. (The by-shingle inverted
    # index reshuffles either way.)
    # The partition count is EXPLICIT: a bare repartition(col) is a
    # coalescible shuffle that AQE collapses back to the input's
    # partition count when the doc rows are few bytes — one partition
    # for a single-file fixture, serializing the whole explode
    # (measured: repartition(col) → 1 partition at sf0.1).
    nparts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
        )
        .repartition(nparts, F.col(id_col))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles)).alias("shingle"),
        )
    )


def ngram_positions(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """EVERY word n-gram occurrence with its 1-based token position:
    (id_col, pos, gram, n_tokens) — the occurrence-level (bag)
    counterpart of ``shingle_set``'s distinct-set view, for
    consumers that need multiplicity or location: repeated-span
    coverage (which tokens sit under a duplicated gram), hashed
    n-gram feature counts (DSIR-style importance), positional
    inverted indexes. Same sub-``n`` convention as ``shingle_set``:
    a document shorter than ``n`` words contributes its full text
    as one gram at pos 1. Same explicit-width repartition-by-id
    discipline (see shingle_set's comment): the shuffle moves
    compact doc rows BEFORE the ~|doc|-per-row gram fan-out, and
    every downstream per-doc aggregate reuses the id clustering."""
    tokens = F.col("__toks")
    idxs = F.sequence(F.lit(1), F.greatest(F.size(tokens) - (n - 1), F.lit(1)))
    grams = F.transform(
        idxs,
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(tokens, i, n)).alias("gram"),
        ),
    )
    nparts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
        )
        .repartition(nparts, F.col(id_col))
        .select(
            F.col(id_col),
            F.size(tokens).cast("bigint").alias("n_tokens"),
            F.explode(grams).alias("__g"),
        )
        .select(
            id_col,
            F.col("__g.pos").alias("pos"),
            F.col("__g.gram").alias("gram"),
            "n_tokens",
        )
    )


def _jaccard_on_pairs(
    pairs: DataFrame, shingles: DataFrame, id_col: str
) -> DataFrame:
    """Exact Jaccard for candidate pairs (doc_a < doc_b) given the
    (id, shingle) set table. Returns (doc_a, doc_b, jaccard).

    Shape: fold each document's shingles into ONE array row
    (groupBy id — a shuffle of the same bytes the exploded table
    holds, but ~|doc| fewer rows), join the candidate pairs against
    that array table twice, and intersect in-row
    (``array_intersect`` over ~|doc|/token-element arrays stays in
    whole-stage codegen). The previous shape — join the exploded
    (id, shingle) table on both sides and count matches — shuffled
    the shingle rows twice more plus a per-pair aggregate; measured
    3× slower at fixture scale and strictly more shuffle volume at
    any scale.

    Shingles fold as xxhash64 values, not strings: distinct strings
    map to distinct hashes (collision ~2⁻⁶⁴ per pair), so set sizes,
    intersections — hence Jaccard — are preserved, while the groupBy
    shuffles ~8-byte longs instead of ~n-word strings and the
    per-pair intersect compares longs."""
    sets_ = shingles.groupBy(id_col).agg(
        F.collect_set(F.xxhash64("shingle")).alias("__sh")
    )
    return _jaccard_on_sets(pairs, sets_, id_col)


def _jaccard_on_sets(
    pairs: DataFrame, sets_: DataFrame, id_col: str
) -> DataFrame:
    """Exact Jaccard for candidate pairs given an already-folded
    (id, __sh array<bigint>) set table — the verification join of
    :func:`_jaccard_on_pairs`, split out so callers that fold the
    set inside another aggregate (minhash_lsh_pairs' fused
    signature+set pass) skip the refold."""
    a = sets_.select(F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sh_a"))
    b = sets_.select(F.col(id_col).alias("doc_b"), F.col("__sh").alias("__sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "__n_common",
            F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b"))),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("__n_common")
                / (
                    F.size("__sh_a")
                    + F.size("__sh_b")
                    - F.col("__n_common")
                )
            ).alias("jaccard"),
        )
    )


def _drop_hot_buckets(
    exploded: DataFrame, bucket_keys: list[str], max_bucket: int
) -> DataFrame:
    """Count-prepass skew guard shared by every bucket-pair caller:
    remove bucket keys with more than ``max_bucket`` member rows
    BEFORE any ``collect_set`` buffers them.

    Without this, a pathological bucket (one boilerplate shingle /
    band shared by 10⁷ documents at corpus scale) would buffer its
    full id array in one hash-aggregation task's state — which,
    unlike a sort, cannot spill — before the size filter could drop
    it.

    Plan shape: repartition on the bucket keys, then a count over a
    key-partitioned window. The window requires no second exchange
    (the repartition already satisfies its distribution) and the
    downstream collect_set groupBy reuses the same partitioning, so
    the guarded pipeline shuffles the exploded rows exactly once —
    identical wire volume to the un-guarded shape; the only addition
    is a partition-local sort, and WindowExec's buffer SPILLS, so
    even the pathological bucket is disk-bounded, not memory-bounded.
    (The alternative count-aggregate + broadcast-anti-join prepass —
    the index-probe path's shape — costs an extra aggregation pass
    plus a broadcast job per call; measured ~0.7 s per query at
    fixture scale, so the windowed form is the shared default.)"""
    nparts = exploded.sparkSession.sparkContext.defaultParallelism
    part = exploded.repartition(nparts, *[F.col(k) for k in bucket_keys])
    w = Window.partitionBy(*bucket_keys)
    return (
        part.withColumn("__bn", F.count(F.lit(1)).over(w))
        .where(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )


def _bucket_pairs(
    exploded: DataFrame,
    bucket_keys: list[str],
    id_col: str,
    max_bucket: int,
) -> DataFrame:
    """One-shuffle candidate pairing over an inverted index: group
    each bucket's member ids into a sorted array and explode the
    ordered pairs in-row. Returns distinct (doc_a, doc_b), doc_a <
    doc_b.

    vs the window-count + self-join shape: that plan shuffles the
    exploded table three times (bucket-size window, join left, join
    right); this one shuffles it once and generates the O(b²) pairs
    inside the row, bounded by ``max_bucket``. Buckets beyond the cap
    are removed by the :func:`_drop_hot_buckets` count-prepass before
    the collect_set ever buffers them (every caller's exploded table
    has one row per (bucket, member), so the row count equals the
    member-set size); the between() filter is kept as a cheap
    belt-and-braces invariant."""
    exploded = _drop_hot_buckets(exploded, bucket_keys, max_bucket)
    buckets = (
        exploded.groupBy(*bucket_keys)
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("__ids"))
        .where(F.size("__ids").between(2, max_bucket))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("__ids"), i + F.lit(2), F.size(F.col("__ids"))
                ),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("__p"))
        .select("__p.doc_a", "__p.doc_b")
        .distinct()
    )


def ngram_candidate_pairs(
    shingles: DataFrame, id_col: str, max_doc_freq: int = 1000
) -> DataFrame:
    """Inverted-index candidate pairs: documents sharing ≥1 shingle
    with document frequency ≤ ``max_doc_freq``.

    The frequency cap is the hot-shingle guard (standard for
    inverted-index Jaccard): one boilerplate 5-gram shared by 10⁵
    docs would otherwise emit 10¹⁰ candidate rows. A shingle with
    df > cap contributes ~0 Jaccard information anyway (it is in
    everything), and the verification join still counts it — only
    candidate *generation* skips it, so scores stay exact; recall is
    lost only for pairs whose every shared shingle is hotter than the
    cap, which at any useful threshold are non-duplicates."""
    return _bucket_pairs(shingles, ["shingle"], id_col, max_doc_freq)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    threshold: float = 0.7,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle
    index (all pairs sharing ≥1 sub-cap shingle are candidates;
    Jaccard itself is computed over FULL shingle sets).

    Scale: candidate count explodes on frequent shingles —
    ``max_doc_freq`` bounds that (see :func:`ngram_candidate_pairs`);
    at corpus scale prefer :func:`minhash_lsh_pairs`, this operator's
    sublinear twin; keep this one for verification and small inputs.
    """
    # The shingle table feeds the inverted index AND both sides of
    # the verification join — persist it instead of re-exploding the
    # corpus three times (at scale: write it once, it's the reusable
    # index artifact). The persist must NOT outlive the call: every
    # leaked cache entry stays in CacheManager for the session's
    # lifetime (executor memory pressure across a long query sweep),
    # so the small pair result is materialized eagerly via
    # localCheckpoint (ContextCleaner-managed) and the shingle cache
    # dropped before returning.
    sh = shingle_set(df, text_col, id_col, n).persist()
    try:
        cand = ngram_candidate_pairs(sh, id_col, max_doc_freq)
        return (
            _jaccard_on_pairs(cand, sh, id_col)
            .where(F.col("jaccard") >= threshold)
            .localCheckpoint()
        )
    finally:
        sh.unpersist(blocking=False)


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    threshold: float = 0.8,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Directional n-gram containment pairs: (src, sup, containment)
    where C(src→sup) = |S(src) ∩ S(sup)| / |S(src)| ≥ ``threshold``
    over word n-gram shingle sets — the asymmetric complement of
    :func:`ngram_jaccard_pairs`. Jaccard misses near-SUPERSETS (a
    short document quoted inside a much longer one scores |A|/|B|
    ≈ 0 on Jaccard but 1.0 on containment), and containment is the
    signal quote/expansion dedup and wrapper-page removal key on
    (Broder's resemblance-vs-containment split, STOC'97 framing).

    Both directions of every candidate pair are evaluated; a row is
    emitted per qualifying DIRECTION, so a mutual near-dup yields
    two rows and a strict quote yields one (src = the contained
    side).

    Scale: candidate generation, skew guard, and the fold-to-array
    verification join are shared verbatim with the Jaccard path
    (one shingle explode, one bucket shuffle, df-capped inverted
    index); the direction split is in-row arithmetic on the same
    intersection count — no extra shuffle vs Jaccard."""
    sh = shingle_set(df, text_col, id_col, n).persist()
    try:
        cand = ngram_candidate_pairs(sh, id_col, max_doc_freq)
        sets_ = sh.groupBy(id_col).agg(
            F.collect_set(F.xxhash64("shingle")).alias("__sh")
        )
        a = sets_.select(
            F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sh_a")
        )
        b = sets_.select(
            F.col(id_col).alias("doc_b"), F.col("__sh").alias("__sh_b")
        )
        both = (
            cand.join(a, "doc_a")
            .join(b, "doc_b")
            .withColumn(
                "__c",
                F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b"))),
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("doc_a").alias("src"),
                            F.col("doc_b").alias("sup"),
                            (
                                F.col("__c") / F.size("__sh_a")
                            ).alias("containment"),
                        ),
                        F.struct(
                            F.col("doc_b").alias("src"),
                            F.col("doc_a").alias("sup"),
                            (
                                F.col("__c") / F.size("__sh_b")
                            ).alias("containment"),
                        ),
                    )
                ).alias("__d")
            )
            .select("__d.src", "__d.sup", "__d.containment")
        )
        return both.where(
            F.col("containment") >= threshold
        ).localCheckpoint()
    finally:
        sh.unpersist(blocking=False)


# ------------------------------------------------------------------ #
# MinHash + LSH                                                       #
# ------------------------------------------------------------------ #

_MERSENNE_P = 4_294_967_311  # prime > 2^32
_A_MAX = 1 << 20  # keeps a*h + b < 2^53 — no ANSI overflow


def _perm_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _A_MAX), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    num_hashes: int = 64,
    seed: int = 42,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) — classic universal-hash
    MinHash over word n-gram shingles. All JVM-side: xxhash64 →
    64 parallel min-aggregates; one shuffle (groupBy id). Pass a
    prebuilt (persisted) ``shingles`` table to share the explode with
    the verification join."""
    sh = shingles if shingles is not None else shingle_set(df, text_col, id_col, n)
    # Project the base hash once per row — embedded in each min
    # aggregate it would be recomputed per-aggregate (no
    # cross-aggregate CSE), i.e. num_hashes xxhash64 calls per
    # shingle instead of one.
    sh = sh.select(
        F.col(id_col),
        F.pmod(F.xxhash64("shingle"), F.lit(1 << 32)).alias("__h32"),
    )
    coeffs = _perm_coeffs(num_hashes, seed)
    mins = [
        F.min(
            F.pmod(
                F.lit(a) * F.col("__h32") + F.lit(b), F.lit(_MERSENNE_P)
            )
        ).alias(f"__m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    bands: int = 32,
    rows_per_band: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded LSH: docs agreeing on any full band are candidates.
    (bands=32, rows=2) over 64 hashes → P(candidate) ≈
    1-(1-j²)³² — ≥ 0.999999999 recall at j ≥ 0.7.

    Buckets larger than ``max_bucket`` are dropped (degenerate
    boilerplate protection — the skew guard at corpus scale) by
    :func:`_bucket_pairs`' windowed count-prepass, which consumes the
    exploded band table in a single pipelined pass — no signature
    materialization barrier is needed."""
    band_cols = [
        F.struct(
            F.lit(j).alias("band_idx"),
            F.xxhash64(
                *[F.col("sig")[j * rows_per_band + r] for r in range(rows_per_band)]
            ).alias("band_hash"),
        )
        for j in range(bands)
    ]
    exploded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, "b.band_idx", "b.band_hash")
    return _bucket_pairs(exploded, ["band_idx", "band_hash"], id_col, max_bucket)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs at ``jaccard >= threshold``: MinHash+LSH
    candidates, then *exact* Jaccard verification on the candidates
    (so false positives are eliminated; false-negative rate is the
    banding miss probability, ≈ 4e-10 at j=0.7 with 32×2 bands).

    The sublinear scale path: corpus never self-joins — only LSH
    buckets do."""
    # ONE fused groupBy-id aggregate yields the minhash signature AND
    # the verification shingle set (the build_neardup_index_frame
    # fusion, guide §2.4): the round-11 shape persisted the exploded
    # shingle table and ran two aggregation passes over it (64 mins +
    # a collect_set). The fused table is persisted instead — one row
    # per doc (sig + set array), the same payload the materialized
    # index stores — and feeds band explode + both verify sides.
    # Same persist-hygiene pattern as ngram_jaccard_pairs: eager
    # small result out, cache dropped before returning.
    idx = build_neardup_index_frame(
        df, text_col, id_col, n, num_hashes, bands, seed
    ).persist()
    try:
        exploded = idx.select(
            F.col(id_col), F.posexplode("bands").alias("band_idx", "band_hash")
        )
        cand = _bucket_pairs(
            exploded, ["band_idx", "band_hash"], id_col, 1000
        )
        sets_ = idx.select(F.col(id_col), F.col("shingles").alias("__sh"))
        return (
            _jaccard_on_sets(cand, sets_, id_col)
            .where(F.col("jaccard") >= threshold)
            .localCheckpoint()
        )
    finally:
        idx.unpersist(blocking=False)


# ------------------------------------------------------------------ #
# SimHash                                                             #
# ------------------------------------------------------------------ #


def _md5_half(col: Column, offset: int) -> Column:
    """32-bit integer from md5 hex chars [offset, offset+8) — portable
    across engines (DuckDB: ('0x'||substr(md5(x),o,8))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), offset, 8), 16, 10).cast("bigint")


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """64-bit SimHash over word n-gram shingles, as two 32-bit halves
    (hi, lo) for portable arithmetic: per bit, sum ±1 over feature
    hashes; sign → bit. md5-based so an external oracle can reproduce
    it. Returns (id, sim_hi, sim_lo).

    Per document the signature is a purely local reduction (distinct
    shingles → md5 halves → 64 bit-sums → signs), so one Arrow-batched
    mapInPandas pass computes it with no explode, no distinct
    aggregate and no 65-column groupBy — ~2× the throughput of that
    expression form, which tests/test_dedup.py keeps as the reference
    (hashlib md5 and numpy bit arithmetic are integer-exact, so the
    two agree to the bit). The repartition spreads the per-row
    compute across cores (narrow scan, wide compute) and the shuffle
    moves doc rows once."""
    import hashlib

    import numpy as np
    import pandas as pd

    ks = np.arange(32)

    def compute(batches):
        for pdf in batches:
            ids, his, los = [], [], []
            for doc_id, text in zip(
                pdf[id_col].values, pdf[text_col].values
            ):
                if text is None:
                    continue
                toks = text.split(" ")
                g = max(len(toks) - (n - 1), 1)
                grams = {" ".join(toks[i : i + n]) for i in range(g)}
                # Parse each md5's leading 8 bytes straight from the
                # binary digest (one frombuffer per doc) — the hex
                # round-trip (hexdigest + two int(x, 16) per shingle)
                # measured ~25% of kernel time. Big-endian u4 matches
                # int(hexdigest[:8], 16) bit-for-bit.
                dig = b"".join(
                    hashlib.md5(s.encode()).digest()[:8] for s in grams
                )
                halves = (
                    np.frombuffer(dig, dtype=">u4")
                    .astype(np.int64)
                    .reshape(-1, 2)
                )
                hi, lo = halves[:, 0], halves[:, 1]
                nsh = len(grams)
                sh = ((hi[:, None] >> ks) & 1).sum(0)
                sl = ((lo[:, None] >> ks) & 1).sum(0)
                his.append(int(((2 * sh - nsh >= 0) << ks).sum()))
                los.append(int(((2 * sl - nsh >= 0) << ks).sum()))
                ids.append(doc_id)
            yield pd.DataFrame(
                {id_col: ids, "sim_hi": his, "sim_lo": los}
            )

    id_type = dict(df.dtypes)[id_col]
    # explicit partition count — see shingle_set: AQE coalesces a
    # bare repartition(col) of the small doc rows to one partition,
    # which would serialize the Arrow kernel
    nparts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(nparts, F.col(id_col))
        .mapInPandas(
            compute,
            schema=f"{id_col} {id_type}, sim_hi long, sim_lo long",
        )
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs at hamming distance ≤ ``max_hamming`` over the
    64-bit SimHash. Candidates via multi-index chunk-PAIR equality:
    ≤6 differing bits damage at most 6 of the 8 8-bit chunks, so a
    qualifying pair agrees on at least TWO chunks — bucket on the
    C(8,2)=28 (chunk_i, chunk_j) combinations (16-bit keys). Exact
    recall for max_hamming ≤ 6, then exact hamming verification.
    Returns (doc_a, doc_b, hamming).

    Scale: single-chunk bucketing (the naive pigeonhole) keys on only
    256 values per position — every bucket holds ~|corpus|/256 docs
    and candidate volume explodes quadratically; the 65536-value
    pair keys cut candidates by ~2 orders of magnitude at any corpus
    size, for 28/8 = 3.5× the exploded index rows. This is the
    standard multi-index Hamming-search layout (Norouzi, Punjani &
    Fleet, "Fast Search in Hamming Space with Multi-Index Hashing",
    CVPR 2012); the signature itself is Charikar's SimHash (STOC
    2002).

    Plan shape: the buckets carry (id, hi, lo) member structs — 24
    bytes/row instead of 8 — so hamming is computed IN-ROW on each
    bucket's ordered pairs and the distinct runs over verified
    near-dup pairs only. That removes the two signature join-backs
    and the all-candidates distinct of the join-back shape (4
    shuffles → 2 after the signature step), and drops the sigs
    materialization barrier: one pipeline, docs → signatures →
    bucket groupBy → pairs+hamming → distinct. Measured ~2× at
    fixture scale; strictly fewer shuffles at any scale."""
    assert max_hamming <= 6, (
        "chunk-pair pigeonhole (2 of 8 intact) guarantees recall only to 6"
    )
    sigs = simhash_signatures(df, text_col, id_col, n)
    chunk = []
    for c in range(4):
        chunk.append(
            F.shiftright(F.col("sim_hi"), 8 * c).bitwiseAND(F.lit(255))
        )
        chunk.append(
            F.shiftright(F.col("sim_lo"), 8 * c).bitwiseAND(F.lit(255))
        )
    combo_cols = [
        F.struct(
            F.lit(i * 8 + j).alias("chunk_idx"),
            (chunk[i] * 256 + chunk[j]).alias("chunk_val"),
        )
        for i in range(8)
        for j in range(i + 1, 8)
    ]
    member = F.struct(
        F.col(id_col).alias("id"),
        F.col("sim_hi").alias("hi"),
        F.col("sim_lo").alias("lo"),
    )
    chunks = sigs.select(
        member.alias("m"), F.explode(F.array(*combo_cols)).alias("c")
    ).select("c.chunk_idx", "c.chunk_val", "m")
    # same skew guard as _bucket_pairs: drop over-cap buckets via the
    # count-prepass BEFORE collect_set buffers their member structs
    chunks = _drop_hot_buckets(chunks, ["chunk_idx", "chunk_val"], 100_000)
    # array_sort on structs orders by the leading field (id), so the
    # in-row pairing below yields doc_a < doc_b, same as _bucket_pairs
    buckets = (
        chunks.groupBy("chunk_idx", "chunk_val")
        .agg(F.array_sort(F.collect_set("m")).alias("__ms"))
        .where(F.size("__ms").between(2, 100_000))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("__ms"),
            lambda x, i: F.transform(
                F.slice(F.col("__ms"), i + F.lit(2), F.size(F.col("__ms"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.a.id").alias("doc_a"),
            F.col("p.b.id").alias("doc_b"),
            (
                F.bit_count(F.col("p.a.hi").bitwiseXOR(F.col("p.b.hi")))
                + F.bit_count(F.col("p.a.lo").bitwiseXOR(F.col("p.b.lo")))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------------------------ #
# winnowing fingerprints                                              #
# ------------------------------------------------------------------ #


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the rolling-hash selection scheme used by
    plagiarism/near-dup detectors): hash every word
    k-gram, slide a ``window`` over consecutive k-gram hashes, keep
    the minimum of each window, dedupe. Guarantees every match of
    length ≥ k+window-1 tokens shares a fingerprint, while storing
    only ~2/(window+1) of the k-gram hashes.

    Returns distinct (id_col, fp) with fp a portable unsigned 32-bit
    md5 prefix (reproducible in any engine).

    Plan shape: one shuffle (repartition by id parallelizes the
    k-gram build AND feeds both windows and the final distinct,
    which all cluster by id). Positional k-grams come from
    posexplode + window leads — plain codegen'd expressions, no
    per-row HOF lambdas in the hot path.
    """
    base = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    ).repartition(
        # explicit count — AQE coalesces bare repartition(col) of the
        # compact doc rows to ~1 partition (see shingle_set)
        df.sparkSession.sparkContext.defaultParallelism,
        F.col(id_col),
    )
    tok = base.select(
        F.col(id_col),
        F.posexplode("__toks").alias("__pos", "__tok"),
        F.size("__toks").alias("__ntok"),
    )
    w_lead = Window.partitionBy(id_col).orderBy("__pos")
    gram = F.concat_ws(
        " ",
        F.col("__tok"),
        *[F.lead("__tok", i).over(w_lead) for i in range(1, k)],
    )
    # 0-based gram positions 0..g-1, g = max(ntok-k+1, 1): trailing
    # positions (and docs shorter than k) clamp — concat_ws drops
    # the null leads, so a short doc contributes its full text.
    grams = (
        tok.withColumn("__gram", gram)
        .where(F.col("__pos") <= F.greatest(F.col("__ntok") - k, F.lit(0)))
        .select(
            F.col(id_col),
            "__pos",
            "__ntok",
            _md5_half(F.col("__gram"), 1).alias("__h"),
        )
    )
    w_win = (
        Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, window - 1)
    )
    g = F.greatest(F.col("__ntok") - (k - 1), F.lit(1))
    return (
        grams.withColumn("fp", F.min("__h").over(w_win))
        .where(F.col("__pos") <= F.greatest(g - window, F.lit(0)))
        .select(F.col(id_col), "fp")
        .distinct()
    )


# ------------------------------------------------------------------ #
# incremental near-dup (new batch vs persisted index)                 #
# ------------------------------------------------------------------ #


def build_neardup_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Materializable near-dup index for incremental ingestion: one
    row per document with its LSH band hashes AND its shingle set.
    Write this to the lake (`Lake.overwrite('neardup_index', ...)`)
    once per corpus snapshot; each incoming batch probes it with
    :func:`incremental_neardup_pairs` — the reference's incremental
    anti-join gate (etl_pipeline_script.py:128-133) generalized from
    exact keys to near-duplicates.

    Returns (id, bands array<bigint>[bands], shingles array<bigint>).
    Shingles are stored as xxhash64 values, not strings: distinct
    strings map to distinct hashes (collisions ~2⁻⁶⁴ per pair), so
    |intersection| and |union| — hence Jaccard — are preserved, while
    the materialized index shrinks ~5-10× and the verification
    ``array_intersect`` compares longs instead of variable-length
    strings. At 100 TB write it bucketed by a band hash prefix so
    batch probes prune partitions instead of scanning the full
    index."""
    return build_neardup_index_frame(
        df, text_col, id_col, n, num_hashes, bands, seed
    ).localCheckpoint()


def build_neardup_index_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Lazy plan behind :func:`build_neardup_index`: ONE fused
    groupBy-id aggregate computes the 64 minhash minima AND the
    shingle set from a single projection of the shingle table — the
    round-11 shape ran two aggregation passes over a persisted
    shingle cache (minhash_signatures + a collect_set) and joined
    them back on id; both aggregates group by the SAME key, so they
    are one aggregate (optimization round 12, guide §2.4 "two
    operations keyed the same way share one exchange"). Band hashes
    are identical: xxhash64 over the same BIGINT minima. Exposed
    separately so the plan tool can dump the executed shape
    (plans/r12)."""
    rows_per_band = num_hashes // bands
    sh = shingle_set(df, text_col, id_col, n)
    # project the 64-bit hash once; the 32-bit base for the universal
    # hashes derives from it exactly as minhash_signatures does
    proj = sh.select(
        F.col(id_col), F.xxhash64("shingle").alias("__h")
    ).withColumn("__h32", F.pmod(F.col("__h"), F.lit(1 << 32)))
    coeffs = _perm_coeffs(num_hashes, seed)
    mins = [
        F.min(
            F.pmod(
                F.lit(a) * F.col("__h32") + F.lit(b), F.lit(_MERSENNE_P)
            )
        ).alias(f"__m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = proj.groupBy(id_col).agg(
        *mins, F.collect_set("__h").alias("shingles")
    )
    band_arr = F.array(
        *[
            F.xxhash64(
                *[
                    F.col(f"__m{j * rows_per_band + r}")
                    for r in range(rows_per_band)
                ]
            )
            for j in range(bands)
        ]
    )
    return agg.select(F.col(id_col), band_arr.alias("bands"), "shingles")


def explode_index_bands(
    index: DataFrame, id_col: str, max_bucket: int = 1000
) -> DataFrame:
    """Build-time companion table for :func:`incremental_neardup_pairs`:
    the index's (band_idx, band_hash, index_id) rows with degenerate
    buckets (> ``max_bucket`` members — boilerplate bands) already
    dropped. Materialize this NEXT TO the index (one extra parquet
    dir, ~32 small rows per doc) so each arriving batch probes it
    directly instead of re-exploding the corpus bands and re-running
    the hot-bucket prepass per probe — at 100 TB, write it bucketed
    by band_hash so probes prune partitions."""
    idx_bands = index.select(
        F.col(id_col).alias("index_id"),
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    hot = (
        idx_bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_bucket)
        .select("band_idx", "band_hash")
    )
    return idx_bands.join(
        F.broadcast(hot), ["band_idx", "band_hash"], "left_anti"
    )


def incremental_neardup_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = None,
    index_bands: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs between an incoming batch and an existing
    corpus index (built by :func:`build_neardup_index`) — the
    incremental flow: a batch is typically orders of magnitude
    smaller than the corpus, so this probes the index instead of
    re-pairing the whole corpus.

    Returns (new_id, index_id, jaccard) with jaccard ≥ ``threshold``.

    Plan: ONE groupBy(id) over the batch shingles computes the
    minhash signature mins AND the hashed shingle set together (they
    consume the same ``xxhash64(shingle)`` projection, so fusing them
    halves the batch-side aggregation work); the batch's band hashes
    then join the index's exploded bands on (band_idx, band_hash) —
    ids only through the explode, a one-sided bucket probe (no corpus
    self-pairing, no batch self-pairing); verified candidates fetch
    both shingle arrays and intersect in-row. The verify branch
    re-reads the fused aggregate, whose exchange Spark deduplicates
    (ReusedExchange — identical subtree), so the shingles are still
    computed once. Shuffle volume ∝ batch size + matched index rows,
    never corpus size. The ``max_bucket`` guard drops degenerate
    boilerplate buckets on the index side, same as the batch LSH
    path.

    Pass ``index_bands`` (a materialized :func:`explode_index_bands`
    table) to skip the per-probe corpus-band explode + hot-bucket
    prepass — the deployed shape, where both are paid once at build
    time. ``max_bucket`` is a BUILD-time threshold: when
    ``index_bands`` is supplied it was already applied by
    :func:`explode_index_bands` and this function does not re-filter,
    so a value passed here would silently not apply — ``max_bucket``
    defaults to the ``None`` sentinel (resolved to the build default,
    1000, when this function builds the bands itself) and ANY
    explicit value combined with ``index_bands`` raises to make the
    conflict visible — the threshold is stated in exactly one place,
    the build call (rebuild the bands table to change it).

    ``materialize=True`` (default) eagerly localCheckpoints the
    verified pairs — right for callers that consume the result more
    than once (the streaming ingest anti-joins it AND writes the
    quarantine log). Single-pass callers (one collect / one sink
    write) should pass ``materialize=False`` and skip the checkpoint
    replay."""
    if index_bands is None:
        # degenerate-bucket guard on the index side (the corpus is
        # the unbounded party): drop buckets beyond max_bucket members
        idx_bands = explode_index_bands(
            index, id_col, 1000 if max_bucket is None else max_bucket
        )
    else:
        if max_bucket is not None:
            raise ValueError(
                "max_bucket is applied at index-bands build time; "
                "passing it together with a prebuilt index_bands "
                "table would silently use the build-time threshold — "
                "rebuild via explode_index_bands(index, id_col, "
                f"max_bucket={max_bucket}) instead"
            )
        idx_bands = index_bands

    rows_per_band = num_hashes // bands
    # Fused batch aggregation: signature mins + hashed shingle set in
    # one pass. Base hash projected once per shingle row (embedded in
    # each min aggregate it would be recomputed per-aggregate — no
    # cross-aggregate CSE), same as minhash_signatures.
    base = shingle_set(new_docs, text_col, id_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("__sh64")
    )
    base = base.withColumn(
        "__h32", F.pmod(F.col("__sh64"), F.lit(1 << 32))
    )
    coeffs = _perm_coeffs(num_hashes, seed)
    mins = [
        F.min(
            F.pmod(
                F.lit(a) * F.col("__h32") + F.lit(b), F.lit(_MERSENNE_P)
            )
        ).alias(f"__m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    # Same xxhash64 shingle encoding the index stores — set sizes and
    # intersections are hash-collision-exact (see
    # :func:`build_neardup_index`).
    agg = base.groupBy(id_col).agg(
        *mins, F.collect_set("__sh64").alias("__sh_new")
    )
    band_arr = F.array(
        *[
            F.xxhash64(
                *[
                    F.col(f"__m{j * rows_per_band + r}")
                    for r in range(rows_per_band)
                ]
            )
            for j in range(bands)
        ]
    )
    new_bands = agg.select(
        F.col(id_col).alias("new_id"),
        F.posexplode(band_arr).alias("band_idx", "band_hash"),
    )
    cand = (
        new_bands.join(idx_bands, ["band_idx", "band_hash"])
        .where(F.col("new_id") != F.col("index_id"))
        .select("new_id", "index_id")
        .distinct()
    )
    verified = (
        cand.join(
            agg.select(F.col(id_col).alias("new_id"), "__sh_new"),
            "new_id",
        )
        .join(
            index.select(
                F.col(id_col).alias("index_id"),
                F.col("shingles").alias("__sh_idx"),
            ),
            "index_id",
        )
        .withColumn(
            "__c",
            F.size(F.array_intersect(F.col("__sh_new"), F.col("__sh_idx"))),
        )
        .select(
            "new_id",
            "index_id",
            (
                F.col("__c")
                / (
                    F.size("__sh_new")
                    + F.size("__sh_idx")
                    - F.col("__c")
                )
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.localCheckpoint() if materialize else verified


# ------------------------------------------------------------------ #
# chunk-level dedup (sub-document granularity)                        #
# ------------------------------------------------------------------ #


def chunk_dedup_keep(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 20,
) -> DataFrame:
    """Corpus-wide duplicate-passage removal at sub-document
    granularity — the C4 (Raffel et al., JMLR 2020, §2.2) /
    RefinedWeb (Penedo et al., arXiv:2306.01116) line-dedup
    technique (applied to
    fixed ``chunk_tokens``-token chunks because the fixture corpus is
    single-line): every chunk keeps only its FIRST occurrence
    corpus-wide (min ``(id, chunk_idx)`` by content hash); documents
    are reassembled from their surviving chunks in order.

    Returns ``(id_col, clean_text, n_chunks, n_kept)`` — documents
    whose every chunk was seen earlier disappear entirely (fully
    boilerplate docs).

    Scale — chunk BODIES never shuffle: the first-occurrence decision
    runs entirely on ``(md5(chunk), id, chunk_idx)`` projections
    (hash-group min-struct, then regroup the winning indexes by
    document — two projection-sized shuffles), and the surviving text
    is re-derived row-locally from the original document in a single
    doc-sized join. A degenerate hash bucket (one boilerplate chunk
    repeated 10⁷×) costs one min-struct aggregate cell — map-side
    combined, O(1) state — not a buffered window.
    """
    w = chunk_tokens
    toks = F.col("__toks")
    n_chunks_c = F.ceil(F.size(toks) / F.lit(w)).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks_c - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * w + 1, w)),
    )
    nparts = df.sparkSession.sparkContext.defaultParallelism
    tokenized = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    # decision table: hashes only — parallelize the chunk expressions
    # off a few-split scan (same rationale as shingle_set)
    hashed = (
        tokenized.repartition(nparts, F.col(id_col))
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_idx", "__chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            F.md5(F.col("__chunk")).alias("__h"),
        )
    )
    # first occurrence per distinct chunk content = lexicographic min
    # (id, chunk_idx) — a map-side-combining aggregate, then the
    # winning indexes regroup per document (both shuffles carry
    # (16B hash, id, idx) rows only)
    winners = (
        hashed.groupBy("__h")
        .agg(F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__w"))
        .select(F.col(f"__w.{id_col}").alias(id_col), F.col("__w.chunk_idx"))
    )
    kept = winners.groupBy(id_col).agg(
        F.array_sort(F.collect_list("chunk_idx")).alias("__keep"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # re-derive surviving text row-locally from the original document
    return (
        tokenized.join(kept, id_col)
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(
                    "__keep",
                    lambda i: F.concat_ws(" ", F.slice(toks, i * w + 1, w)),
                ),
                " ",
            ).alias("clean_text"),
            n_chunks_c.alias("n_chunks"),
            "n_kept",
        )
    )


# ------------------------------------------------------------------ #
# train/test decontamination (exact n-gram overlap)                   #
# ------------------------------------------------------------------ #


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Exact n-gram decontamination (the GPT-3 method — Brown et
    al., arXiv:2005.14165, appendix C):
    flag every train document sharing at least one word ``n``-gram
    with the held-out test set. Returns ``(id_col, n_shared_grams)``
    — the count of the train document's DISTINCT n-grams that occur
    anywhere in test.

    Scale: the test side reduces to its distinct-gram set before the
    join (test corpora are small — benchmarks, not crawls — so the
    per-gram join is one shuffle of hashed keys, and with a small
    enough test set Spark's runtime bloom / broadcast handles it
    map-side). Both sides key on ``xxhash64(shingle)`` — the q34
    discipline (distinct grams ↔ distinct hashes, ~2⁻⁶⁴ per pair):
    the join exchanges move 8-byte keys, never n-gram strings
    (optimization round 12, guide §2.3)."""
    tr = shingle_set(train, text_col, id_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("__h")
    )
    te = (
        shingle_set(test, text_col, id_col, n)
        .select(F.xxhash64("shingle").alias("__h"))
        .distinct()
    )
    return (
        tr.join(te, "__h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


# ------------------------------------------------------------------ #
# fuzzy (edit-distance) near-match via prefix blocking               #
# ------------------------------------------------------------------ #


def fuzzy_blocked_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_len: int = 16,
    probe_len: int = 60,
    max_dist: int = 10,
    max_block: int = 1000,
) -> DataFrame:
    """Record-linkage-style fuzzy pairs: documents whose leading
    ``probe_len`` characters are within ``max_dist`` Levenshtein
    edits, candidates bounded by equality on the first ``block_len``
    characters (standard blocking). Complements the token-SET family
    (Jaccard/MinHash/SimHash): edit distance catches character-level
    noise — OCR errors, truncation, small in-place edits — that
    leaves token multisets nearly intact but shifts every shingle.

    Returns (doc_a, doc_b, dist) with doc_a < doc_b and
    dist ≤ ``max_dist``.

    Scale: the self-join shuffles only (id, block, probe-prefix)
    projections on the block key — bodies never move; pair count is
    Σ|block|², bounded by the ``max_block`` degenerate-block guard
    (same posture as the LSH ``max_bucket`` and the q33 df-cap: a
    boilerplate prefix shared by millions of docs must not go
    quadratic — those blocks are dropped, not scanned). Scoring is
    JVM codegen ``levenshtein`` — no Python in the pair loop. At
    longer probes, swap the prefix block for an LSH band join and
    keep only the scoring stage."""
    b = df.select(
        F.col(id_col),
        F.substring(text_col, 1, block_len).alias("__blk"),
        F.substring(text_col, 1, probe_len).alias("__probe"),
    )
    hot = (
        b.groupBy("__blk")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_block)
        .select("__blk")
    )
    b = b.join(F.broadcast(hot), "__blk", "left_anti")
    # per-side block aliases: both sides descend from the same parent
    # `b`, so joining on a shared `__blk` name resolves to ONE
    # attribute (Spark logs 'trivially true equals predicate' and
    # falls back to its self-join disambiguation special case) —
    # distinct names make the equi-key unambiguous by construction
    left = b.select(
        F.col(id_col).alias("doc_a"),
        F.col("__blk").alias("__blk_a"),
        F.col("__probe").alias("__pa"),
    )
    right = b.select(
        F.col(id_col).alias("doc_b"),
        F.col("__blk").alias("__blk_b"),
        F.col("__probe").alias("__pb"),
    )
    return (
        left.join(
            right,
            (F.col("__blk_a") == F.col("__blk_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("__pa", "__pb").cast("int").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def fellegi_sunter_weights(m: float, u: float) -> tuple[float, float]:
    """The Fellegi-Sunter (1969, public construction) field weights:
    ``log2(m/u)`` on agreement, ``log2((1-m)/(1-u))`` on
    disagreement, computed ONCE in the driver so both the Spark plan
    and any SQL twin embed the identical IEEE literals (repr
    round-trips them exactly — the same pinning discipline as the
    Poisson bootstrap thresholds)."""
    import math

    return (
        math.log2(m / u),
        math.log2((1.0 - m) / (1.0 - u)),
    )


def fellegi_sunter_score(
    pairs: DataFrame,
    fields: list[tuple[Column, float, float]],
    out_col: str = "match_weight",
) -> DataFrame:
    """Fellegi-Sunter match scoring over blocked candidate pairs:
    each field contributes its agreement/disagreement log-odds
    weight (from the field's m = P(agree | match) and
    u = P(agree | non-match)), summed into the pair's total match
    weight — the probabilistic-record-linkage standard the fuzzy
    blocked-pairs stage (q127) feeds. ``fields`` is
    ``[(agreement_bool_col, m, u), ...]``.

    Exactness: weights are driver-computed literal doubles summed in
    the fixed declaration order — a single codegen expression, no
    aggregate, so the result is bit-stable and SQL-twin-able. Scale:
    a map-side projection on the (already blocked and bounded) pair
    table; scoring adds zero shuffles."""
    expr = None
    for agree, m, u in fields:
        wa, wd = fellegi_sunter_weights(m, u)
        term = F.when(agree, F.lit(wa)).otherwise(F.lit(wd))
        expr = term if expr is None else expr + term
    if expr is None:
        raise ValueError("fellegi_sunter_score needs at least one field")
    return pairs.select("*", expr.alias(out_col))
