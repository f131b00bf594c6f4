"""Connected components over near-duplicate pair graphs.

The missing last step of a dedup pipeline: candidate pairs (from
MinHash-LSH / SimHash / exact Jaccard — see :mod:`.dedup`) only relate
documents pairwise; keeping "one doc per duplicate *cluster*" needs the
transitive closure.  This module computes components with iterative
min-label propagation expressed as DataFrame joins — no GraphX/GraphFrames
dependency, no driver-side graph.

Scale notes (100 TB corpus, ~10^10 nodes):

- Each iteration is one shuffle join (edges ⋈ labels on src) plus one
  min-aggregation — both key-partitioned, map-side-combinable, and
  skew-tolerant under AQE.
- Min-label propagation converges in O(graph diameter) iterations.
  Near-dup clusters are quasi-cliques (every member overlaps most
  others), so the diameter is tiny (2–4) and this IS the right
  algorithm for the dedup workload.  For general graphs with long
  chains, the alternating large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14) converges in O(log n) rounds; swap `_propagate_once` for
  star rounds if you feed this something path-shaped.
- Lineage is cut every iteration with ``localCheckpoint`` — without it
  the plan doubles per round and the driver OOMs planning round ~15.
- The per-iteration convergence check is a count over changed labels
  only (anti-equality join), not a full materialization.

Reference parity: the reference pipeline dedups by exact key only
(src/db_ops.py insert-if-absent); clustering generalizes its semantics
to near-duplicates, as required for LLM training-data curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame


def cooccurrence_edges(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Distinct undirected co-occurrence edges (src < dst): items are
    adjacent when they share a group (parts in one order, tokens in
    one doc). ONE aggregation by group folds each group's DISTINCT
    items into a sorted array and the ordered pairs explode in-row —
    the plan shape of dedup._bucket_pairs. The equivalent self-join
    (a ⋈ b ON group WHERE a.item < b.item, then DISTINCT) shuffles
    the fact rows twice and sorts both sides; this shuffles them
    once into a hash aggregate whose partial (map) side already
    folds per-group sets. Group fan-out is bounded by the group size
    (order line count here — single digits); for unbounded groups
    use the capped dedup pairing instead. Returns (src, dst)."""
    grouped = (
        df.groupBy(group_col)
        .agg(F.array_sort(F.collect_set(F.col(item_col))).alias("__its"))
        .where(F.size("__its") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("__its"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("__its"), i + F.lit(2), F.size(F.col("__its"))
                ),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_structs).alias("__p"))
        .select("__p.src", "__p.dst")
        .distinct()
    )


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected edge list -> both directions, self-loops dropped."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.union(rev).where(F.col("src") != F.col("dst")).distinct()


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    small_graph_max: int = 1_000_000,
) -> DataFrame:
    """Label every node with the MINIMUM node id reachable from it.

    Returns ``(node_col, component_id)`` — one row per input node;
    isolated nodes get ``component_id = node``.

    ``nodes`` must contain every vertex (edge endpoints may be a
    subset).  Deterministic: min-label is order-independent.

    Only edge ENDPOINTS enter the iteration — isolated nodes can
    never change label, and in a dedup corpus they are the vast
    majority, so the loop runs over the (small) duplicate subgraph
    and the full node set joins back once at the end.

    Small-graph fast path: when the dup subgraph holds at most
    ``small_graph_max`` directed edges (one count job decides), the
    edge list collects to the driver and a union-find labels it in
    O(E·α) — the iterative loop's per-round Spark jobs are pure
    overhead at that size. Only one direction per undirected edge is
    collected (≤ small_graph_max/2 Rows; budget ~100 B/Row of driver
    heap when raising the bound); past it, the distributed
    min-label loop runs unchanged. Labels are identical either way
    (min reachable id), so the q66 oracle equality is
    path-independent."""
    sym = symmetrize(edges, src, dst).persist()

    n_sym = sym.count()
    if n_sym <= small_graph_max:
        # union-find is direction-agnostic: collect each undirected
        # edge once (halves the Rows the driver materializes; the
        # symmetrized list is only the distributed loop's concern)
        pairs = sym.where(F.col("src") < F.col("dst")).collect()
        sym.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in pairs:
            a, b = find(row[0]), find(row[1])
            if a != b:
                # union toward the smaller id: every root stays the
                # minimum member of its component, so the final label
                # IS find(node)
                parent[max(a, b)] = min(a, b)
        # one-direction collect → endpoints come from both slots
        members = {row[0] for row in pairs} | {row[1] for row in pairs}
        out = [(m, find(m)) for m in members]
        spark = nodes.sparkSession
        labels = local_frame(
            spark, out, f"node {dict(nodes.dtypes)[node_col]}, lbl {dict(nodes.dtypes)[node_col]}"
        )
        return (
            nodes.select(F.col(node_col).alias("node"))
            .distinct()
            .join(F.broadcast(labels), "node", "left")
            .select(
                F.col("node").alias(node_col),
                F.coalesce(F.col("lbl"), F.col("node")).alias("component_id"),
            )
        )

    # sym holds both directions, so src alone covers every endpoint.
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for it in range(max_iter):
        # Push each node's current label to its neighbors, then take
        # the min of (own label, neighbor labels).  One shuffle join +
        # one partial-aggregated min per round.
        pushed = (
            sym.join(labels, sym["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "lbl")
        )
        new_labels = (
            labels.select("node", "lbl")
            .union(pushed)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        old_labels, labels = labels, new_labels
        if it == 0:
            # Round 1 always changes something on any non-empty edge
            # set — skip the probe job.
            continue
        changed = (
            new_labels.alias("n")
            .join(old_labels.alias("o"), "node")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        if changed == 0:
            break
    sym.unpersist()
    # Isolated nodes: their own id is their component.
    return (
        nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce(F.col("lbl"), F.col("node")).alias("component_id"),
        )
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """Near-dup pairs -> cluster assignment for EVERY document.

    ``component_id`` is the smallest doc id in the cluster — the
    canonical "keep" doc, matching the keep-min convention of
    :func:`..operators.dedup.exact_dedup_groups`.
    """
    nodes = docs.select(F.col(id_col).alias("node"))
    edges = pairs.select(F.col(pair_a).alias("src"), F.col(pair_b).alias("dst"))
    cc = connected_components(nodes, edges)
    return cc.select(F.col("node").alias(id_col), "component_id")


# TextRank integer-PageRank scaling: ranks live in units of
# 1e-6 "mass" (SCALE per node initially); per-edge transition
# probabilities w(j,i)/W(j) are quantized ONCE to integer 1e-6
# units (PROB_SCALE) when the graph is built; the damping split
# 85/100 and every contribution use integer floor division, so ten
# iterations stay BIGINT-exact end-to-end — the property that lets
# an iterative algorithm carry a machine-checked cross-engine
# oracle at all (float PageRank sums in shuffle order and can
# never hash-match). Quantizing the probability rather than
# computing (r*w) div W per iteration bounds the product by
# VOCABULARY, not corpus size (review-flagged: raw adjacent-pair
# weights are corpus-scale, and r*w overflowed BIGINT exactly at
# the 100 TB framing): r <= |V|*SCALE, so r*p <= |V|*1e12 — safe
# through a 1e6-token vocabulary with 3 orders to spare, and
# independent of how many times any bigram occurs.
TEXTRANK_SCALE = 1_000_000
TEXTRANK_PROB_SCALE = 1_000_000
TEXTRANK_DAMP_NUM = 85  # d = 0.85 as an exact 85/100 split
TEXTRANK_BASE = (100 - TEXTRANK_DAMP_NUM) * TEXTRANK_SCALE // 100


def textrank_scores(
    weighted_edges: DataFrame,
    n_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    small_graph_max: int = 2_000_000,
) -> DataFrame:
    """Weighted TextRank (Mihalcea & Tarau 2004) node scores via
    ``n_iter`` integer power iterations:

        p(j,i) = floor(w(j,i) * PROB_SCALE / W(j))        (once)
        r'(i)  = BASE + 85 * sum_j floor(r(j) * p(j,i) / PROB_SCALE) // 100

    over a SYMMETRIZED weighted graph (caller supplies directed
    edges; both directions are added here, self-loops dropped,
    parallel edges re-aggregated). Every node of a symmetric graph
    has in-degree == out-degree >= 1, so no rank row ever drops out
    and no dangling-mass term is needed.

    Exactness: all arithmetic is BIGINT with floor division on
    positives (Spark ``div`` == DuckDB ``//``) — scores are
    hash-exact across engines and runs; see the PROB_SCALE comment
    above for why the product is vocab-bounded. Scale: each
    iteration is one edges-join-ranks shuffle plus one
    partial-combining sum on dst — the connected-components cost
    model; edges and each rank generation persist so the single
    final action computes every generation exactly once (the
    bpe_learn discipline) instead of re-deriving an exponentially
    deep lineage.

    Returns ``(ranks, generations)`` — the caller owns the persisted
    generations and must unpersist every frame in ``generations``
    after consuming ``ranks`` (an explicit pair, not an attribute a
    transformation would silently drop); ``textrank_topk`` wraps
    exactly that for the bounded top-k serve path."""
    base = weighted_edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"),
        F.col(weight).alias("w"),
    ).persist()

    # Small-graph fast path (the connected_components posture): a
    # word co-occurrence graph is vocab-bounded, and ten sequential
    # Spark iterations over a sub-driver-heap edge table are pure
    # stage-scheduling overhead (~0.5 s/iteration at fixture scale).
    # One count job over the RAW directed edges decides (|sym| ≤
    # 2·|input|, so the bound is conservative); at or under it the
    # raw list collects (budget ~100 B/Row of driver heap when
    # raising the bound) and symmetrization, the probability
    # quantization AND the integer recurrence all run driver-local —
    # the round-11 shape still planned the 3-exchange normalization
    # chain (union + two aggregations + a join) on the cluster
    # before collecting, pure scheduling overhead at this size
    # (optimization round 12, guide §1.2). Python ints replicate
    # BIGINT floor division on positives exactly and the per-edge
    # products are vocab-bounded (module header), so scores are
    # hash-identical to the distributed loop and the SQL oracle
    # either way (asserted in tests/test_graph.py).
    if 2 * base.count() <= small_graph_max:
        raw = base.collect()
        base.unpersist()
        sym: dict = {}
        for row in raw:
            s, d, w = row["src"], row["dst"], row["w"]
            if s == d:
                continue
            sym[(s, d)] = sym.get((s, d), 0) + w
            sym[(d, s)] = sym.get((d, s), 0) + w
        wout: dict = {}
        for (s, _), w in sym.items():
            wout[s] = wout.get(s, 0) + w
        # vectorized integer recurrence: int64 // on non-negatives IS
        # floor division and np.add.at accumulates exactly — the
        # overflow bound is the module header's (safe through a
        # 1e6-token vocabulary), identical to the BIGINT Spark path
        import numpy as np

        toks = sorted(wout)
        idx = {t: i for i, t in enumerate(toks)}
        keys = list(sym)
        src_i = np.array([idx[s] for s, _ in keys], dtype=np.int64)
        dst_i = np.array([idx[d] for _, d in keys], dtype=np.int64)
        p = np.array(
            [
                (sym[k] * TEXTRANK_PROB_SCALE) // wout[k[0]]
                for k in keys
            ],
            dtype=np.int64,
        )
        r = np.full(len(toks), TEXTRANK_SCALE, dtype=np.int64)
        for _ in range(n_iter):
            acc = np.zeros(len(toks), dtype=np.int64)
            np.add.at(acc, dst_i, (r[src_i] * p) // TEXTRANK_PROB_SCALE)
            r = TEXTRANK_BASE + (TEXTRANK_DAMP_NUM * acc) // 100
        spark = weighted_edges.sparkSession
        ranks = local_frame(
            spark,
            [(t, int(r[i])) for i, t in enumerate(toks)],
            "token string, r bigint",
        )
        return ranks, []

    edges = (
        base.union(
            base.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "w",
            )
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    wout = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    e = (
        edges.join(wout, "src")
        .select(
            "src",
            "dst",
            F.expr(f"(w * {TEXTRANK_PROB_SCALE}) div wout").alias("p"),
        )
        .persist()
    )

    ranks = e.select("src").distinct().select(
        F.col("src").alias("token"),
        F.lit(TEXTRANK_SCALE).cast("bigint").alias("r"),
    ).persist()
    gens = [base, e, ranks]
    for _ in range(n_iter):
        contrib = e.join(ranks, e["src"] == ranks["token"]).select(
            F.col("dst"),
            F.expr(f"(r * p) div {TEXTRANK_PROB_SCALE}").alias("t"),
        )
        ranks = contrib.groupBy(F.col("dst").alias("token")).agg(
            (
                F.lit(TEXTRANK_BASE)
                + F.expr(f"({TEXTRANK_DAMP_NUM} * sum(t)) div 100")
            )
            .cast("bigint")
            .alias("r")
        ).persist()
        gens.append(ranks)
    return ranks, gens


def textrank_topk(
    weighted_edges: DataFrame, k: int = 50, n_iter: int = 10, **kw
) -> list:
    """Run :func:`textrank_scores` and return the top-``k`` rows
    (token, r) — rank-desc, token-asc — as driver-local rows
    (bounded by contract: k), releasing every persisted generation
    before returning."""
    ranks, gens = textrank_scores(weighted_edges, n_iter=n_iter, **kw)
    try:
        return (
            ranks.orderBy(F.desc("r"), "token").limit(k).collect()
        )
    finally:
        for g in gens:
            g.unpersist()


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Global triangle count over an undirected simple graph — the
    clustering-coefficient numerator and the standard density probe
    for co-occurrence / near-dup graphs (a dedup pair graph whose
    triangle rate spikes is transitive — clusters, not isolated
    pairs — which changes the keep-one survivor math).

    The scalable compact-forward construction (Latapy; the public
    degree-ordered algorithm): canonicalize + distinct the edges,
    compute degrees, orient every edge from its lower-(degree, id)
    endpoint to the higher one, build each vertex's SORTED oriented
    out-neighbor array (|adj| ≤ O(√m) by the orientation), then for
    every oriented edge u→v count ``|adj(u) ∩ adj(v)|`` — a triangle
    x<y<z (orientation order) is found exactly once, at its (x→y)
    edge. The intersection runs INSIDE a JVM ``array_intersect`` on
    two bounded sorted arrays — the quadratic wedge set
    (Σ d_out², billions of rows on a degree-100 graph where this
    survives as arrays) is never materialized as rows; intermediate
    volume is 2|E| rows carrying O(√m)-bounded arrays.

    Returns a 1-row DataFrame (n_triangles BIGINT). Scale: the
    canonical edge set is consumed twice (degrees + orientation) and
    persists only for the count's duration — the aggregate is
    reduced eagerly here (1 row, bounded by contract) so both
    cached edge sets are unpersisted before return instead of
    accumulating until ContextCleaner reclaims them; everything
    downstream is two |E|-row joins keyed on a vertex id plus one
    partial-combining sum — no vertex ever holds more than its own
    O(√m) out-neighborhood.

    ``assume_canonical=True`` skips the least/greatest + distinct
    normalization when the caller's edge set already guarantees
    ``src < dst`` distinct rows (``cooccurrence_edges`` does by
    construction) — one fewer full exchange+aggregate over the edge
    set (optimization round 12, guide §2.4)."""
    # Neither und nor deg is persisted here: the whole count is ONE
    # action, so every re-reference dedupes through ReusedExchange
    # over the canonical edge set's exchange, and both explicit
    # caches measured SLOWER same-session (und+adj 2.77-3.53 s vs
    # adj-only 2.21-2.30 s; deg+adj 3.86 s) — clustering_stats still
    # persists both because its wedge aggregate is a separate eager
    # action (no cross-action exchange reuse).
    und = _canonical_edges(edges, src, dst, assume_canonical)
    n = _triangle_sum(und)
    return local_frame(edges.sparkSession, [(int(n),)], "n_triangles bigint")


def _canonical_edges(
    edges: DataFrame,
    src: str,
    dst: str,
    assume_canonical: bool = False,
) -> DataFrame:
    """Canonical undirected simple edge set: (min, max) endpoints,
    self-loops dropped, distinct. ``assume_canonical`` renames only —
    for producers whose output is already (src < dst, distinct) by
    construction, where the distinct would re-shuffle the whole edge
    set to deduplicate nothing."""
    a, b = F.col(src), F.col(dst)
    if assume_canonical:
        return edges.select(a.alias("u"), b.alias("v"))
    return (
        edges.select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """Per-vertex degree of the canonical edge set → (x, d)."""
    return (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _adjacency(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Oriented out-adjacency of a canonical edge set: each vertex's
    SORTED array of higher-(degree, id) neighbors → (lo, nbrs)."""
    ranked = (
        und.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    return oriented.groupBy("lo").agg(
        F.sort_array(F.collect_list("hi")).alias("nbrs")
    )


def _triangle_sum_frame(adj: DataFrame) -> DataFrame:
    """The 1-row triangle aggregate over a (persisted) oriented
    adjacency table: every oriented edge u→v is re-derived IN-ROW by
    exploding adj(u)'s neighbor array — which carries ``nu`` along
    for free — so only ONE adjacency join (attach adj(v) on hi)
    remains. The previous shape kept a persisted oriented edge list
    and joined it back to adj twice (on lo, then on hi): the lo-side
    join re-shuffled the whole |E|-row edge set to attach an array
    the groupBy had just built from those very rows (optimization
    round 12, guide §2.4 — two operations keyed the same way share
    one exchange). Wire volume of the remaining hi-join is unchanged:
    Σ d_out² array elements either way."""
    left = adj.select(
        F.col("nbrs").alias("nu"), F.explode("nbrs").alias("hi")
    )
    return (
        left.join(
            adj.select(F.col("lo").alias("hi"), F.col("nbrs").alias("nv")),
            "hi",
        )
        .select(
            F.size(F.array_intersect("nu", "nv")).cast("bigint").alias("k")
        )
        .agg(
            F.coalesce(F.sum("k"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles")
        )
    )


def _triangle_sum(und: DataFrame, deg: DataFrame | None = None) -> int:
    """Degree-ordered triangle total of a (persisted) canonical edge
    set — the eager compact-forward core shared by
    :func:`triangle_count` and :func:`clustering_stats`. The caller
    owns the persist/unpersist of ``und`` (and of ``deg`` when it
    passes one — both callers now reuse one persisted degree table
    here instead of recomputing the union+groupBy); the intermediate
    ADJACENCY table is persisted and unpersisted here (it is
    referenced on both sides of the intersection join; it replaces
    the round-11 oriented-edge persist, holding the same Σ d_out
    payload in |V| array rows instead of |E| pair rows)."""
    if deg is None:
        deg = _degrees(und)
    adj = _adjacency(und, deg).persist()
    try:
        # bounded: the global aggregate is 1 row
        return _triangle_sum_frame(adj).collect()[0][0]
    finally:
        adj.unpersist()


def clustering_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Global (transitivity-style) clustering coefficient:
    ``3·triangles / wedges`` with ``wedges = Σ_v d_v(d_v−1)/2`` —
    the standard graph-cohesion summary (Newman; public). For a
    dedup pair graph this is the transitivity audit in one number:
    cc → 1 means near-dup pairs close into clusters (keep-one
    survivor math applies), cc → 0 means isolated accidental pairs.

    One canonicalized edge set is persisted and consumed by BOTH
    legs — the wedge sum (a degree aggregate, wedge count stays
    BIGINT via d(d−1) div 2) and the compact-forward triangle core
    shared with :func:`triangle_count` — then unpersisted before
    return; both reductions are eager 1-row collects (bounded by
    contract). The coefficient itself is the one IEEE division,
    rounded at 1e-6. Returns 1 row: (n_edges, n_wedges,
    n_triangles, global_cc). ``assume_canonical`` as in
    :func:`triangle_count`."""
    und = _canonical_edges(edges, src, dst, assume_canonical).persist()
    deg = _degrees(und).persist()
    try:
        # ONE pass over the degree table yields both edge and wedge
        # counts (Σd = 2|E|, Σ d(d-1)/2 = wedges) — no separate
        # count() action; the SAME persisted degree table then feeds
        # the triangle core's orientation joins. (A single-action
        # crossJoin of the wedge and triangle aggregates was measured
        # and REVERTED in round 12: q257 4.97 s / 23 jobs vs this
        # shape's 3.31 s / 17 jobs — the fused plan defeated the
        # cache-aware scheduling instead of sharing exchanges.)
        row = (
            deg
            .agg(
                F.expr("sum(d) div 2").cast("bigint").alias("m"),
                F.coalesce(
                    F.sum(F.expr("d * (d - 1) div 2")), F.lit(0)
                )
                .cast("bigint")
                .alias("w"),
            )
            .collect()[0]  # bounded: 1-row global aggregate
        )
        n_edges = row["m"] or 0
        n_wedges = row["w"]
        n_tri = _triangle_sum(und, deg)
    finally:
        deg.unpersist()
        und.unpersist()
    cc = (3.0 * n_tri / n_wedges) if n_wedges else None
    return local_frame(
        edges.sparkSession,
        [(int(n_edges), int(n_wedges), int(n_tri), cc)],
        "n_edges bigint, n_wedges bigint, n_triangles bigint, "
        "global_cc double",
    ).select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        # round in the engine so HALF_UP matches the SQL oracle
        # (Python round() is HALF_EVEN)
        F.round("global_cc", 6).alias("global_cc"),
    )
