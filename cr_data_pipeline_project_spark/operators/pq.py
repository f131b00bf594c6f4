"""Product quantization (PQ) for embedding compression — the codebook
companion to the scalar int8 path (operators/similarity.py:int8
quantization) and the missing third leg of the IVF family: IVF routes
(coarse), PQ compresses (fine), reranking verifies (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).

A dim-d vector splits into ``m`` contiguous sub-vectors; each
subspace gets its own k-centroid codebook (k ≤ 256 → one byte per
subspace), and a vector stores only its m sub-centroid ids: 64
float32 dims → 8 bytes at m=8, a 32× compression with bounded
reconstruction error.

Scale notes (100 TB / billions of vectors)
------------------------------------------
- The m per-subspace k-means runs are FUSED into one Lloyd loop over
  the exploded (sub, sub-vector) rows — m separate fits would pay m×
  the job/shuffle/checkpoint overhead for the same arithmetic
  (measured ~4× slower at fixture scale). Per iteration: one
  mapInPandas pass assigning every row against its OWN subspace's
  codebook (all m codebooks ship together — m·k×(d/m) doubles, tiny
  by construction) and one (sub, cid, pos) partial-sum aggregation
  whose shuffle volume is ~m·k·(d/m) = k·d partials per partition,
  independent of corpus size.
- Seeding takes each subspace's k smallest-hash rows, but the
  per-subspace window runs over a hash-THRESHOLDED sample (a few
  thousand rows per subspace regardless of corpus size), never the
  full subspace: the filter keeps every row whose seed hash falls
  below a cut sized to oversample k by a large constant factor, so
  the k smallest hashes of the sample are exactly the k smallest of
  the corpus — identical seeds, no single-task full-N window.
- Encoding is the same fused kernel against the final codebooks,
  then ONE groupBy-id shuffle regrouping m small ints per vector —
  never the vectors themselves.
- Decoding joins codes to codebooks on (sub, cid) — broadcast-sized
  dimension — and refolds; used for reranking candidates and for the
  reconstruction-error telemetry, never the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..session import local_frame
from .similarity import _centroid_table, _nearest, as_double_vec


def _sub_rows(v: DataFrame, m: int, sub_d: int) -> DataFrame:
    """(_id, _v) → one (sub, _id, sv) row per subspace slice. Null or
    wrong-dimension vectors are dropped FIRST — they cannot enter
    np.stack in the assignment kernel (the same guard the similarity
    kernels carry; one malformed embedding would otherwise crash the
    whole job inside the Arrow worker)."""
    clean = v.where(
        F.col("_v").isNotNull() & (F.size("_v") == m * sub_d)
    )
    slices = F.array(
        *[F.slice("_v", s * sub_d + 1, sub_d) for s in range(m)]
    )
    return clean.select(F.col("_id"), F.posexplode(slices).alias("sub", "sv"))


def _pack_books(book_rows) -> dict:
    """(sub, cid, cv) rows → {sub: (cids, C, |C|²)} numpy tables
    sorted by cid (:func:`similarity._centroid_table` per subspace).
    Accepts any iterable of Row-likes (a collected codebook DataFrame
    or the fit loop's own list)."""
    tables: dict[int, list] = {}
    for r in book_rows:
        tables.setdefault(int(r["sub"]), []).append((r["cid"], r["cv"]))
    return {s: _centroid_table(ent) for s, ent in tables.items()}


def _assign_all_subs(rows: DataFrame, books, carry_sv: bool):
    """Assign every (sub, _id, sv) row to its own subspace's nearest
    centroid in one Arrow pass — all m codebooks ship in the task
    closure (m·k sub-vectors, tiny by construction). The pick is
    :func:`similarity._nearest`'s, so ties break toward the smallest
    cid. ``books`` is either a codebook DataFrame (collected here —
    bounded; job-free when the fit returned its LocalRelation form)
    or an already-packed dict from :func:`_pack_books` (the fit
    loop's path: zero extra jobs per iteration)."""
    import numpy as np
    import pandas as pd

    packed = books if isinstance(books, dict) else _pack_books(books.collect())

    id_type = dict(rows.dtypes)["_id"]
    schema = f"sub int, _id {id_type}, cid int" + (
        ", sv array<double>" if carry_sv else ""
    )

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # -1 sentinel: a subspace with no codebook entries (a
            # partially-written codebook) must fail fast, not emit
            # whatever np.empty leaves in memory
            out = np.full(len(pdf), -1, dtype=np.int32)
            subs = pdf["sub"].values
            for s, (cids, C, cn) in packed.items():
                msk = subs == s
                if not msk.any():
                    continue
                pick, _ = _nearest(np.stack(pdf["sv"].values[msk]), C, cn, 1)
                out[msk] = cids[pick[:, 0]]
            if (out < 0).any():
                missing = sorted(set(subs[out < 0].tolist()))
                raise ValueError(
                    f"codebook has no entries for subspace(s) {missing}"
                )
            cols = {"sub": subs.astype("int32"), "_id": pdf["_id"], "cid": out}
            if carry_sv:
                cols["sv"] = pdf["sv"]
            yield pd.DataFrame(cols)

    return rows.mapInPandas(kern, schema)


def pq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Fit per-subspace codebooks. Returns (sub int, cid int,
    cv array<double>[d/m]) — AT MOST m·k rows, broadcast-sized by
    construction: a centroid whose cluster empties during a Lloyd
    iteration is dropped, so a persisted codebook may hold fewer
    than k entries per subspace, with cid gaps (every consumer here
    keys on (sub, cid) and never assumes density — callers persisting
    codebooks as a serving artifact should not either). ``dim`` must
    divide evenly by ``m`` (asserted against the corpus's dominant
    vector size). All m subspaces fit in ONE fused Lloyd loop (see
    module scale notes); like kmeans_fit, the result is ulp-tolerant
    by contract."""
    # dimension = the corpus's MOST COMMON vector size (one cheap
    # partial-combining aggregate over sizes) — sniffing the first
    # row would crash on a null first row or, worse, lock onto a
    # malformed short vector and drop every valid one in the guard
    # below. The same row carries the clean-vector COUNT, so the
    # separate rows.count() job the sampler used to run is free.
    drow = (
        df.where(F.col(vec_col).isNotNull())
        .groupBy(F.size(F.col(vec_col)).alias("__d"))
        .count()
        .orderBy(F.desc("count"), F.col("__d"))
        .first()
    )
    if drow is None:
        raise ValueError("empty corpus: no non-null vectors to fit")
    dim = int(drow["__d"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    v = df.select(
        F.col(id_col).alias("_id"), as_double_vec(vec_col).alias("_v")
    )
    rows = _sub_rows(v, m, sub_d).localCheckpoint(eager=True)

    # deterministic seeds: each subspace's k smallest-hash rows. The
    # window below partitions by sub, so WITHOUT the pre-filter one
    # task would hold a full subspace (N rows) — the single-task spot
    # the round-5 review flagged. Instead, rows first pass a hash
    # threshold sized to keep ~max(128, 8k) rows per subspace: since
    # the filter keeps every hash below the cut and the window orders
    # by that same hash, the k smallest-hash rows of the SAMPLE are
    # exactly the k smallest-hash rows of the corpus — bit-identical
    # seeds (asserted by test_pq.py::test_pq_sampled_seeding_exact),
    # but the window's per-task input is bounded by the oversample
    # target, independent of corpus size. (The ≥8× oversample makes a
    # subspace sampling under k rows a ~e^-49 binomial tail; if it
    # ever happened the codebook would simply seed with fewer
    # centroids, which every consumer tolerates — see the return
    # contract.)
    seed_hash = F.xxhash64("_id", F.lit(seed) + F.col("sub"))
    # clean-vector count from the dominant-size aggregate above —
    # every kept row has the dominant size, so rows/m == that count
    n_per_sub = int(drow["count"])
    target = max(128, 8 * k)
    pool = rows
    if n_per_sub > target:
        frac = target / n_per_sub
        cut = int(-(2**63) + frac * 2**64)
        pool = rows.where(seed_hash < F.lit(cut))
    w = Window.partitionBy("sub").orderBy(seed_hash, F.col("_id"))
    seed_books = (
        pool.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            "sub",
            (F.col("__rn") - F.lit(1)).cast("int").alias("cid"),
            F.col("sv").alias("cv"),
        )
    )
    if n_iter <= 0:
        return seed_books.localCheckpoint(eager=True)

    # Lloyd loop, scheduler-round-trip-trimmed (optimization round
    # 12, guide §1.2): the codebook is m·k rows by construction, so
    # intermediate generations COLLECT straight into the packed
    # assignment tables the kernel ships anyway — the round-11 form
    # localCheckpoint'ed every generation and then collected it
    # again inside _assign_all_subs (2 jobs per iteration, plus a
    # seed checkpoint consumed only by that collect). Lineage stays
    # bounded because each generation's plan is rooted at the
    # CHECKPOINTED rows table, never at the previous generation.
    # Only the FINAL generation checkpoints (the returned DataFrame,
    # same downstream form as round 11 — a full driver-local loop
    # returning a parallelized codebook was measured slower there
    # and stays out). The centroid update is ONE groupBy(sub, cid)
    # with one avg per position instead of the posexplode +
    # groupBy(sub, cid, pos) + refold pair (one fewer shuffle per
    # iteration; same ulp-tolerant float-avg contract).
    packed = _pack_books(seed_books.collect())
    books = None
    avgs = [F.avg(F.col("sv")[i]).alias(f"__a{i}") for i in range(sub_d)]
    arr = F.array(*[F.col(f"__a{i}") for i in range(sub_d)])
    for i in range(n_iter):
        assigned = _assign_all_subs(rows, packed, carry_sv=True)
        upd = (
            assigned.groupBy("sub", "cid")
            .agg(*avgs)
            .select("sub", "cid", arr.alias("cv"))
        )
        if i < n_iter - 1:
            packed = _pack_books(upd.collect())
        else:
            books = upd.localCheckpoint(eager=True)
    return books


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as its m sub-centroid ids. Returns
    (id_col, codes array<int>[m]). One fused Arrow assignment pass
    over the exploded subspace rows, then one groupBy-id shuffle
    carrying m small ints per vector."""
    # one bounded collect (job-free on the fit's LocalRelation form)
    # yields m, sub_d AND the packed assignment tables — the
    # distinct().count() + first() metadata jobs this ran before
    # were two extra scheduler round-trips per encode
    book_rows = codebooks.collect()  # bounded: m·k rows
    if not book_rows:
        raise ValueError("empty codebook")
    m = len({int(r["sub"]) for r in book_rows})
    sub_d = len(book_rows[0]["cv"])
    v = df.select(
        F.col(id_col).alias("_id"), as_double_vec(vec_col).alias("_v")
    )
    assigned = _assign_all_subs(
        _sub_rows(v, m, sub_d), _pack_books(book_rows), carry_sv=False
    )
    return (
        assigned.groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cid"))),
                lambda x: x["cid"],
            ).alias("codes")
        )
        .select(F.col("_id").alias(id_col), "codes")
    )


def pq_decode(
    codes: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Reconstruct approximate vectors from codes: explode (sub, cid),
    join the broadcast codebook, refold sub-vectors in subspace
    order. Returns (id_col, vec_hat array<double>)."""
    exploded = codes.select(
        F.col(id_col), F.posexplode("codes").alias("sub", "cid")
    )
    joined = exploded.join(F.broadcast(codebooks), ["sub", "cid"])
    return (
        joined.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "cv"))),
                    lambda x: x["cv"],
                )
            ).alias("vec_hat")
        )
    )


def _adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
    cells: DataFrame | None = None,
    nprobe: int = 0,
) -> DataFrame:
    """The one ADC scan behind :func:`pq_topk` and :func:`ivfpq_topk`:
    collect the queries, build each one's (m, kcent) LUT of squared
    sub-distances (+inf for absent cids), stream ``codes`` through
    one Arrow kernel that emits every batch's local top-k per query,
    and merge with one per-query window on (adist, neighbor_id).
    With ``cells`` (the coarse (cid, cv) table), each query keeps
    only rows whose ``cell`` is one of its ``nprobe`` nearest cells
    (picked by :func:`similarity._nearest`, one query at a time)."""
    import numpy as np
    import pandas as pd

    if cells is not None:
        cell_ids, C, cn = _centroid_table(
            (r["cid"], r["cv"]) for r in cells.select("cid", "cv").collect()
        )  # bounded: n_cells×dim
    books = _pack_books(codebooks.collect())  # bounded: m·k' rows
    m = len(books)
    kcent = max(int(cids.max()) for cids, _, _ in books.values()) + 1
    sub_d = next(iter(books.values()))[1].shape[1]

    id_type = dict(codes.dtypes)[id_col]
    qid_type = dict(queries.dtypes)[query_id_col]
    qrows = queries.select(
        F.col(query_id_col).alias("__qid"), as_double_vec(vec_col).alias("__qv")
    ).collect()  # bounded query set by contract
    if not qrows:
        # same schema as the non-empty path — a hardcoded long would
        # diverge for non-long ids and break unions/appends
        return local_frame(
            codes.sparkSession,
            [],
            f"query_id {qid_type}, neighbor_id {id_type}, "
            "rank int, adist double",
        )
    qids, luts, probed = [], [], []
    for r in qrows:
        q = np.array(r["__qv"], dtype=np.float64)
        qids.append(r["__qid"])
        L = np.full((m, kcent), np.inf)
        for s, (cids, B, _) in books.items():
            qs = q[s * sub_d : (s + 1) * sub_d]
            for cid, cv in zip(cids, B):
                d = qs - cv
                L[s, cid] = float(d @ d)
        luts.append(L)
        if cells is not None:
            # one row at a time: a batched GEMM's summation order
            # differs in the last ulps from this per-query product
            pick, _ = _nearest(q[None, :], C, cn, nprobe)
            probed.append(cell_ids[pick[0]])
    LUT = np.stack(luts)  # (Q, m, kcent)
    subs_idx = np.arange(m)

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["codes"].values).astype(np.int64)  # (n, m)
            ids = pdf[id_col].values
            for qi, qid in enumerate(qids):
                mask = ids != qid
                if probed:
                    mask &= np.isin(pdf["cell"].values, probed[qi])
                kk = min(k, int(mask.sum()))
                if kk == 0:
                    continue
                d = LUT[qi][subs_idx[None, :], M[mask]].sum(axis=1)
                part = np.argpartition(d, kk - 1)[:kk]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qid, kk),
                        "neighbor_id": ids[mask][part],
                        "adist": d[part],
                    }
                )

    partial = codes.mapInPandas(
        kern, f"query_id {qid_type}, neighbor_id {id_type}, adist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist"), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("adist", 6).alias("adist")
        )
    )


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search
    mode PQ exists for (Jégou et al., TPAMI 2011 §IV.A): each query
    precomputes an m×|codebook| lookup table of squared distances
    from its sub-vectors to every sub-centroid; a corpus vector's
    approximate distance is then m table lookups + adds, touching
    only its CODES — the float vectors never load at query time.

    Returns (query_id, neighbor_id, rank, adist) — rank 1..k by
    ascending approximate squared L2, ties toward the smaller id.

    Scale: the query set is bounded (collect()-bounded like
    cosine_topk_pandas' contract) and the LUT stack ships in the
    task closure (|Q|·m·k doubles — tiny). The corpus side streams
    map-side over the codes table with NO shuffle; each Arrow batch
    emits its local top-k per query, and one final per-query window
    merges ≤ batches·k candidate rows. Self-matches (same id) are
    excluded."""
    return _adc_topk(codes, codebooks, queries, id_col, vec_col, query_id_col, k)


def ivfpq_topk(
    codes_with_cell: DataFrame,
    codebooks: DataFrame,
    cell_centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ: the production ANN stack (Jégou et al., TPAMI 2011
    §V) — a coarse quantizer routes each query to its ``nprobe``
    nearest CELLS (squared L2, ties toward the smaller cid), and the
    ADC scan touches only those cells' codes instead of the whole
    corpus: compute drops by ~n_cells/nprobe on top of PQ's 32× byte
    compression.

    ``codes_with_cell``: (id_col, codes, cell) — the PQ-encoded
    corpus with its coarse assignment (clustering.kmeans_assign),
    which at warehouse scale is WRITTEN PARTITIONED BY cell so the
    scan prunes files; here the per-query cell mask is applied
    in-kernel. ``cell_centroids``: (cid, cv) from kmeans_fit —
    n_cells×dim, collect-bounded. Returns (query_id, neighbor_id,
    rank, adist) like :func:`pq_topk`; a query recalls a neighbor
    only if they share a probed cell — the standard IVF recall
    trade, governed by ``nprobe``."""
    return _adc_topk(
        codes_with_cell, codebooks, queries, id_col, vec_col, query_id_col, k,
        cells=cell_centroids, nprobe=nprobe,
    )


def pq_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact re-ranking of an ADC shortlist — the third stage of the
    production ANN stack (route → compressed shortlist → exact
    rerank, Jégou et al. TPAMI 2011 §V.C): the TRUE vectors load for
    only the shortlisted (query, neighbor) pairs, exact cosine
    re-scores them JVM-side (the same deterministic fold as the
    brute-force baseline), and a per-query window keeps the top-k.
    ``candidates``: (query_id, neighbor_id, ...) from
    :func:`pq_topk` / :func:`ivfpq_topk` with k' > k.

    Returns (query_id, neighbor_id, rank, score) — directly
    comparable to brute_force_topk's output on the same pairs.

    Scale: the join fetches |Q|·k' corpus vectors — shortlist-sized,
    never the corpus; the query side is broadcast-bounded by the same
    contract as every query surface here."""
    from .similarity import cosine

    # candidates from pq_topk/ivfpq_topk carry the LITERAL column
    # name "query_id" regardless of the caller's query_id_col — that
    # parameter names the column in `queries` only
    cand = candidates.select("query_id", "neighbor_id")
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("__cv")
    )
    qvecs = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double_vec(vec_col).alias("__qv"),
    )
    scored = (
        cand.join(cvecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("__cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__cos"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("__cos", 6).alias("score"),
        )
    )


def pq_reconstruction_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Fit → encode → decode → per-vector squared reconstruction
    error, the telemetry a compression rollout watches. Returns
    (id_col, n_codes int, recon_err double). Error folds JVM-side
    (zip_with/aggregate) on the rejoined (v, v_hat) pair — one
    key-equi join, vectors shuffle once each."""
    books = pq_fit(df, id_col, vec_col, m=m, k=k, n_iter=n_iter, seed=seed)
    codes = pq_encode(df, books, id_col, vec_col)
    hat = pq_decode(codes, books, id_col)
    v = df.select(F.col(id_col), as_double_vec(vec_col).alias("_v"))
    err = F.aggregate(
        F.zip_with(
            F.col("_v"), F.col("vec_hat"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        v.join(hat, id_col)
        .join(codes, id_col)
        .select(
            F.col(id_col),
            F.size("codes").alias("n_codes"),
            F.round(err, 6).alias("recon_err"),
        )
    )
