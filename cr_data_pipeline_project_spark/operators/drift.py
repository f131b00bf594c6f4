"""Distribution-drift statistics over value-count tables — ONE
kernel shared by the batch reports (plans/reference_queries.py:
q177_ks_source_drift, q182_psi_drift) and the streaming drift
monitor (streaming/incremental.py: value-count partials + KS
snapshot), the daily_count_anomaly / importance.py single-kernel
discipline.

Everything operates on aggregated (value, count) tables, never raw
rows: the corpus collapses once into per-value counts (additive, so
streamed partials sum to the batch table), and the statistics are
exact — KS compares BIGINT cross-products f1*n2 - f2*n1 with ONE
IEEE division at the very end; PSI's per-bin chain is fixed IEEE
ops on exact integers with a pinned ln. That is what makes the
streamed monitor's output bit-identical to the batch recompute
regardless of micro-batch slicing.

Scale: every finish runs over the (v, ca, cb) count table, so its
bound is the count table's cardinality (distinct values), never the
row count. The KS and PSI finishes coalesce that table to one
partition and run as one plan with no exchange and no join (see
:func:`_finish`), so the final merge of the partial counts runs in
one task: cheap while the value cardinality is bounded; swap in a
sketch-CDF twin if the cardinality itself explodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def value_counts(
    df: DataFrame, val_col: str, out_val: str = "v"
) -> DataFrame:
    """(v, c): the per-value count table every drift statistic
    consumes. Additive across disjoint row slices — the property the
    streaming partials rely on."""
    return df.groupBy(F.col(val_col).alias(out_val)).agg(
        F.count(F.lit(1)).alias("c")
    )


def merge_counts(
    counts_a: DataFrame, counts_b: DataFrame, val_col: str = "v"
) -> DataFrame:
    """Merge two (v, c) tables into one (v, ca, cb) table via
    union + re-aggregate — NOT a full-outer join, because join keys
    are not null-safe: a nullable monitored column would produce two
    separate NULL rows (one per side) and a phantom CDF step
    (review-flagged); groupBy treats NULL as one group, matching the
    one-scan conditional-count producers."""
    a = counts_a.select(
        F.col(val_col).alias("v"),
        F.col("c").cast("bigint").alias("ca"),
        F.lit(0).cast("bigint").alias("cb"),
    )
    b = counts_b.select(
        F.col(val_col).alias("v"),
        F.lit(0).cast("bigint").alias("ca"),
        F.col("c").cast("bigint").alias("cb"),
    )
    return (
        a.union(b)
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )


def ks_from_counts(
    counts_a: DataFrame, counts_b: DataFrame, val_col: str = "v"
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic from two
    per-value count tables (val_col, c). Returns ONE row
    (n1, n2, ks_num, ks_stat): the supremum of |F1 - F2| over every
    distinct observed value, integer-exact via |f1*n2 - f2*n1|
    BIGINT cross-products; ks_stat is that max over n1*n2, rounded
    once.

    Scale: the null-safe merge and the cumulative window run over the
    UNION of distinct values — bounded by value cardinality, not
    sample size; sample totals ride the same window pass (no second
    scan), and the finish runs in one task (:func:`ks_from_merged`)."""
    return ks_from_merged(merge_counts(counts_a, counts_b, val_col))


def _finish(pts: DataFrame, text: str) -> DataFrame:
    """Run a finish's one SQL text over the (v, ca, cb) table ``pts``
    coalesced to ONE partition: the finish's windows, aggregates and
    bin spine then plan no exchange and no join, and the last merge of
    the partial counts runs in the same single task."""
    return pts.sparkSession.sql(text, pts=pts.coalesce(1))


def ks_from_merged(pts: DataFrame) -> DataFrame:
    """The KS finish over an already-merged (v, ca, cb) table — the
    entry a one-scan producer uses directly (q177 derives ca/cb as
    conditional counts in a single corpus pass; routing it through
    the two-table entry would reintroduce the double scan a review
    removed).

    Empty side: ``ks_stat`` is NULL when ``n1 * n2 = 0`` (one side
    holds no rows: there is no statistic to report, and a monitor
    must not crash on it), while ``ks_num`` is still the max of
    |F1*n2 - F2*n1|, as DuckDB's twin computes it (its DOUBLE
    division by 0 is NULL). Two empty sides give no row.

    Scale: one task over the count table (:func:`_finish`) — bounded
    by value cardinality, never by sample size."""
    return _finish(
        pts,
        """
        SELECT n1, n2, CAST(MAX(num) AS BIGINT) AS ks_num,
               ROUND(CAST(MAX(num) AS DOUBLE)
                     / CAST(NULLIF(n1 * n2, 0) AS DOUBLE), 6) AS ks_stat
        FROM (SELECT abs(f1 * n2 - f2 * n1) AS num, n1, n2
              FROM (SELECT SUM(ca) OVER cum AS f1, SUM(cb) OVER cum AS f2,
                           CAST(SUM(ca) OVER () AS BIGINT) AS n1,
                           CAST(SUM(cb) OVER () AS BIGINT) AS n2
                    FROM {pts}
                    WINDOW cum AS (ORDER BY v ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW)))
        GROUP BY n1, n2
        """,
    )


def psi_from_counts(
    ref_counts: DataFrame,
    live_counts: DataFrame,
    bins: int = 10,
    val_col: str = "v",
) -> DataFrame:
    """Population Stability Index from two per-value count tables —
    the two-table entry (streaming: frozen reference vs summed live
    partials). See :func:`psi_from_merged` for the statistic."""
    return psi_from_merged(
        merge_counts(ref_counts, live_counts, val_col), bins
    )


def psi_from_merged(pts: DataFrame, bins: int = 10) -> DataFrame:
    """Population Stability Index over reference-quantile bins — the
    industry-standard drift score (PSI < 0.1 stable / 0.1-0.25
    watch / > 0.25 shifted) — from a merged (v, ca, cb) count table
    (ca = reference side, cb = live side; a one-scan conditional
    producer lands here directly, the ks_from_merged discipline).

    Binning: cut points are the EXACT reference quantiles — cut_i =
    min non-NULL v with cumulative reference count >= ceil(i*n1/bins),
    i = 1..bins-1 — so both engines derive identical bins from
    integer rank arithmetic (no percentile interpolation); rows with
    ca = 0 contribute no cumulative mass, so live-only values never
    move a cut. A value's bin is 1 + #{i : v > cut_i}, and v > cut_i
    holds exactly when the running reference count of the previous
    non-NULL value, P, is >= ceil(i*n1/bins), i.e. when
    i <= P*bins div n1: bin = 1 + least(bins-1, P*bins div n1), with
    no cut table and no join. NULL and the smallest non-NULL value
    have no previous value and land in bin 1. An EMPTY reference
    (n1 = 0) makes every threshold 0 and every cut the smallest
    non-NULL value, so NULL and that value land in bin 1 and every
    larger value in bin ``bins``: the live mass is never dropped and
    the verdict is drift, never a silent 'stable'. ``bins = 1`` has
    no cuts: every value lands in the one bin; ``bins`` < 1 raises.
    Add-1 smoothing keeps empty bins finite. Determinism: each bin's
    term is a fixed chain of IEEE ops (two one-division proportions,
    one pinned-to-1e-5 ratio ln whose cross-products multiply as
    DOUBLES — BIGINT products would wrap at ~4e9-row sides, the
    TextRank overflow class), and the running psi accumulates in BIN
    ORDER via a cumulative window — an unordered float SUM would be
    shuffle-order dependent. Output: one row per bin (ref_n, live_n,
    term, psi_cum), bins with no mass included (the spine is
    ``sequence(1, bins)`` looked up in a bin -> counts map); the last
    bin's psi_cum IS the PSI.

    Scale: one task over the count table (:func:`_finish`) — bounded
    by value cardinality, never by sample size; everything after the
    bin assignment is ``bins`` rows."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    return _finish(
        pts,
        f"""
        WITH w AS (
            SELECT v, ca, cb, SUM(ca) OVER () AS n1, MIN(v) OVER () AS v0,
                   SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) - ca AS prev_cum
            FROM {{pts}}),
        per_bin AS (
            SELECT CAST(1 + CASE WHEN v IS NULL OR v = v0 THEN 0
                                 WHEN n1 = 0 THEN {bins - 1}
                                 ELSE least({bins - 1}, prev_cum * {bins} div n1)
                            END AS INT) AS bin,
                   SUM(ca) AS ref_n, SUM(cb) AS live_n
            FROM w GROUP BY 1),
        m AS (
            SELECT map_from_entries(collect_list(
                       struct(bin, struct(ref_n, live_n)))) AS m,
                   COALESCE(SUM(ref_n), 0) AS n1,
                   COALESCE(SUM(live_n), 0) AS n2
            FROM per_bin),
        spine AS (
            SELECT bin, COALESCE(try_element_at(m, bin).ref_n, 0) AS ref_n,
                   COALESCE(try_element_at(m, bin).live_n, 0) AS live_n, n1, n2
            FROM m LATERAL VIEW explode(sequence(1, {bins})) s AS bin),
        t AS (
            SELECT bin, ref_n, live_n,
                   (CAST(ref_n + 1 AS DOUBLE) / CAST(n1 + {bins} AS DOUBLE)
                    - CAST(live_n + 1 AS DOUBLE) / CAST(n2 + {bins} AS DOUBLE))
                   * (CAST(CAST(ROUND(log(
                         (CAST(ref_n + 1 AS DOUBLE) * CAST(n2 + {bins} AS DOUBLE))
                         / (CAST(live_n + 1 AS DOUBLE)
                            * CAST(n1 + {bins} AS DOUBLE))) * 100000)
                       AS BIGINT) AS DOUBLE) / 100000.0) AS term
            FROM spine)
        SELECT bin, ref_n, live_n, ROUND(term, 6) AS term,
               ROUND(SUM(term) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND CURRENT ROW), 6) AS psi_cum
        FROM t ORDER BY bin
        """,
    )


def _ln5(c) -> F.Column:
    """Pinned natural log in integer 1e-5 nat units — the module's
    exactness convention (see ks/psi kernels): one libm ln, scaled,
    rounded ONCE to BIGINT, so every downstream sum is integer."""
    return F.round(F.log(c.cast("double")) * 100000).cast("bigint")


def unigram_kl(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Per-group unigram KL divergence from the corpus mixture:
    KL(P_g ‖ P_corpus) over whitespace unigrams with add-1
    smoothing on the corpus vocabulary — the distribution-shift
    score data-mixing pipelines watch per source/domain (a source
    whose token distribution drifts far from the mixture is either
    contaminated, mis-crawled, or a genuinely novel domain worth
    re-weighting; DoReMi-adjacent diagnostics key on exactly this).

    P_g(w) = (c_g(w)+1)/(n_g+V), P_c(w) = (c(w)+1)/(n_c+V); the sum
    runs over the FULL corpus vocab V, but only (group, present-
    word) pairs ever materialize: the absent-word mass folds into
    closed form via ln-factor separation —

        Σ_{w: c_g(w)=0} 1·[ln(n_c+V) − ln(n_s+V) − ln(c(w)+1)]
        = (V−m_g)(ln(n_c+V) − ln(n_g+V)) − (S₀ − Σ_present ln(c+1))

    with S₀ = Σ_vocab ln(c(w)+1) ONE global scalar. Every ln is
    pinned to integer 1e-5 nat units (_ln5) so both partial sums
    are BIGINT; the only float op is the final division — exact
    cross-engine, same contract as the PSI/surprisal family.

    Returns (group_col, n_tokens, distinct_tokens, kl_nats).

    Scale: one explode into a (group, word) partial-combining
    count; the corpus word table is its re-aggregate (same keys,
    no second scan); per-group present-term sums ride the same
    clustering; the vocab scalars are two 1-row aggregates that
    broadcast back. Nothing materializes group×vocab."""
    words = df.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )
    # Materialize the (group, word) counts — vocab×groups-bounded —
    # before the three consumers (corpus re-agg, vocab scalars, the
    # present-term join) each re-run the corpus explode: Catalyst
    # does not share common subplans, so without this one query
    # scans the 100 TB text column three times.
    gw = (
        words.groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("cg"))
        .localCheckpoint()
    )
    corpus = gw.groupBy("w").agg(F.sum("cg").alias("c"))
    vocab = corpus.agg(
        F.count(F.lit(1)).alias("V"),
        F.sum("c").alias("n_c"),
        F.sum(_ln5(F.col("c") + 1)).alias("S0"),
    )
    # per-group totals + present-term partial sums (joined with the
    # corpus count per word — same (w) key, broadcast-sized right
    # side only when vocab is small; Catalyst picks)
    per = (
        gw.join(corpus, "w")
        .groupBy("g")
        .agg(
            F.sum("cg").alias("n_g"),
            F.count(F.lit(1)).alias("m_g"),
            F.sum(
                (F.col("cg") + 1)
                * (_ln5(F.col("cg") + 1) - _ln5(F.col("c") + 1))
            ).alias("present_core5"),
            F.sum(_ln5(F.col("c") + 1)).alias("present_lnc5"),
        )
    )
    j = per.join(F.broadcast(vocab), F.lit(True), "inner")
    ln_nc = _ln5(F.col("n_c") + F.col("V"))
    ln_ng = _ln5(F.col("n_g") + F.col("V"))
    present5 = F.col("present_core5") + (
        F.col("n_g") + F.col("m_g")
    ) * (ln_nc - ln_ng)
    absent5 = (F.col("V") - F.col("m_g")) * (ln_nc - ln_ng) - (
        F.col("S0") - F.col("present_lnc5")
    )
    kl = (present5 + absent5).cast("double") / (
        (F.col("n_g") + F.col("V")).cast("double") * F.lit(100000.0)
    )
    return j.select(
        F.col("g").alias(group_col),
        F.col("n_g").alias("n_tokens"),
        F.col("m_g").alias("distinct_tokens"),
        F.round(kl, 6).alias("kl_nats"),
    )


def kl_from_merged(pts: DataFrame) -> DataFrame:
    """KL(live ‖ ref) from ONE merged (v, ca, cb) count table
    (ca = reference, cb = live) with add-1 smoothing over the union
    vocabulary — the drift statistic for CATEGORICAL/token
    distributions, complementing KS (ordered values) and PSI
    (binned numerics): no ordering or binning, mass-weighted by the
    live side, so a category the live side spams dominates the
    score even when its rank order is unchanged.

    KL = Σ_v (cb+1)/(n_b+V) · ln((cb+1)(n_a+V) / ((ca+1)(n_b+V)))

    Every v of the union appears as a merged row (merge_counts'
    contract), so the sum needs no absent-mass closed form (unlike
    unigram_kl's group-vs-mixture case, where a group misses most
    of the vocab). Pinned-integer exactness, same as the KS/PSI
    kernels: each ln rounds ONCE to BIGINT 1e-5 nat units, the
    numerator accumulates as BIGINT, one IEEE division at the end —
    bit-identical across engines, row orders, and micro-batch
    slicings (what lets the streaming snapshot equal the batch
    recompute exactly). Returns one row:
    (n_ref, n_live, vocab, kl_nats). Scale: one partial-combining
    aggregate over the value-count table — cardinality-bounded, not
    row-bounded."""
    agg = pts.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.count(F.lit(1)).alias("V"),
        F.sum(
            (F.col("cb") + 1)
            * (_ln5(F.col("cb") + 1) - _ln5(F.col("ca") + 1))
        ).alias("core5"),
    )
    ln_na = _ln5(F.col("n_a") + F.col("V"))
    ln_nb = _ln5(F.col("n_b") + F.col("V"))
    num5 = F.col("core5") + (F.col("n_b") + F.col("V")) * (ln_na - ln_nb)
    kl = num5.cast("double") / (
        (F.col("n_b") + F.col("V")).cast("double") * F.lit(100000.0)
    )
    return agg.select(
        F.col("n_a").alias("n_ref"),
        F.col("n_b").alias("n_live"),
        F.col("V").alias("vocab"),
        F.round(kl, 6).alias("kl_nats"),
    )


def kl_from_counts(
    ref_counts: DataFrame, live_counts: DataFrame
) -> DataFrame:
    """KL(live ‖ ref) from two separate (v, c) tables — the
    streaming-consumer entry (frozen reference vs summed live
    partials); batch producers that already hold both sides in one
    scan use :func:`kl_from_merged` directly."""
    return kl_from_merged(merge_counts(ref_counts, live_counts))
