"""Drift kernels (operators/drift.py): review-flagged edge cases the
oracle can't see — null monitored values, empty reference — plus
independent scipy-free KS and PSI recomputes, and the warm job counts
of the drift queries."""

import pytest
from pyspark.sql import Row, functions as F

from cr_data_pipeline_project_spark.operators import drift
from cr_data_pipeline_project_spark.plans import all_queries

from helpers import in_group


def _counts(spark, vals):
    df = spark.createDataFrame(
        [Row(x=v) for v in vals], "x: long"
    )
    return drift.value_counts(df, "x")


def test_ks_identical_distributions_with_nulls_is_zero(spark):
    """A nullable monitored column: both sides hold the same
    multiset (incl. NULLs) — KS must be exactly 0. A non-null-safe
    full-outer merge produced two separate NULL rows and a phantom
    CDF step (review finding)."""
    vals = [1, 2, 2, 3, None, None]
    a, b = _counts(spark, vals), _counts(spark, vals)
    row = drift.ks_from_counts(a, b).collect()[0]
    assert row["ks_num"] == 0 and row["ks_stat"] == 0.0
    assert row["n1"] == len(vals) and row["n2"] == len(vals)


def test_ks_matches_bruteforce(spark):
    import random

    rng = random.Random(7)
    va = [rng.randrange(20) for _ in range(300)]
    vb = [rng.randrange(25) for _ in range(200)]
    row = drift.ks_from_counts(
        _counts(spark, va), _counts(spark, vb)
    ).collect()[0]
    n1, n2 = len(va), len(vb)
    want = max(
        abs(sum(1 for x in va if x <= v) * n2 - sum(1 for x in vb if x <= v) * n1)
        for v in set(va) | set(vb)
    )
    assert row["ks_num"] == want
    assert row["ks_stat"] == round(want / (n1 * n2), 6)


def test_ks_empty_side_gives_null_statistic(spark):
    """One side with no rows: n1 * n2 = 0, so there is no statistic.
    ``ks_stat`` is NULL (DuckDB's twin divides a DOUBLE by 0 to NULL)
    and ``ks_num`` is still the max, 0, in either order; the finish
    must not raise DIVIDE_BY_ZERO. Two empty sides give no row."""
    full, empty = _counts(spark, [1, 2]), _counts(spark, [])
    for a, b, n1, n2 in ((full, empty, 2, 0), (empty, full, 0, 2)):
        rows = drift.ks_from_counts(a, b).collect()
        assert [tuple(r) for r in rows] == [(n1, n2, 0, None)]
    assert drift.ks_from_counts(empty, empty).collect() == []


def test_psi_empty_reference_signals_drift_not_stable(spark):
    """An empty reference must NOT annihilate the live side into a
    0.0 'stable' verdict (review finding: cross-join with an empty
    cut table dropped every live row). With n1 = 0 every threshold
    ceil(i*n1/bins) is 0, so every cut is the smallest value: that
    value lands in bin 1, every larger one in the last bin, and PSI
    is large."""
    ref = _counts(spark, [])
    live = _counts(spark, [1, 2, 3, 4, 5] * 20)
    rows = drift.psi_from_counts(ref, live).collect()
    assert len(rows) == 10
    by_bin = {r["bin"]: r for r in rows}
    # nothing annihilated: every live row still counted somewhere
    assert sum(r["live_n"] for r in rows) == 100
    assert sum(r["ref_n"] for r in rows) == 0
    # the 20 ones in bin 1, the 80 larger values in bin 10
    assert [r["live_n"] for r in rows] == [20] + [0] * 8 + [80]
    psi = by_bin[10]["psi_cum"]
    assert psi > 0.25, psi  # 'shifted' verdict, not silent stable


def _psi_bruteforce(table, bins):
    """PSI rows (bin, ref_n, live_n, term, psi_cum) recomputed in plain
    Python from ``{v: (ca, cb)}`` by the cut-table definition: cut_i =
    min non-NULL v with cumulative reference count (NULL first) >=
    ceil(i*n1/bins), bin = 1 + #{i : v > cut_i}."""
    import math

    order = ([None] if None in table else []) + sorted(
        v for v in table if v is not None
    )
    n1 = sum(ca for ca, _ in table.values())
    cum, run = {}, 0
    for v in order:
        run += table[v][0]
        cum[v] = run
    cuts = []
    for i in range(1, bins):
        t = -(-i * n1 // bins)
        hits = [v for v in order if v is not None and cum[v] >= t]
        if hits:
            cuts.append(min(hits))
    ref_n, live_n = [0] * bins, [0] * bins
    for v, (ca, cb) in table.items():
        b = 0 if v is None else sum(1 for c in cuts if v > c)
        ref_n[b] += ca
        live_n[b] += cb
    n1, n2 = sum(ref_n), sum(live_n)
    out, psi = [], 0.0
    for b in range(bins):
        p = (ref_n[b] + 1) / (n1 + bins)
        q = (live_n[b] + 1) / (n2 + bins)
        x = math.log(((ref_n[b] + 1) * (n2 + bins)) / ((live_n[b] + 1) * (n1 + bins)))
        lnr5 = math.copysign(math.floor(abs(x) * 100000 + 0.5), x)  # HALF_UP
        term = (p - q) * (lnr5 / 100000.0)
        psi += term
        out.append((b + 1, ref_n[b], live_n[b], term, psi))
    return out


def test_psi_matches_bruteforce(spark):
    """An independent recompute of every PSI row over random merged
    count tables: a NULL value, live-only values (ca = 0), cumulative
    counts that tie with one another and land on the thresholds, at
    2 and 10 bins."""
    import random

    rng = random.Random(11)
    for trial in range(6):
        table = {}
        for v in rng.sample(range(-20, 40), rng.randrange(5, 30)):
            table[v] = (rng.choice([0, 0, 1, 2, 5]), rng.randrange(0, 6))
        table[None] = (rng.randrange(0, 4), rng.randrange(0, 4))
        pts = spark.createDataFrame(
            [(v, ca, cb) for v, (ca, cb) in table.items()],
            "v: long, ca: bigint, cb: bigint",
        )
        for bins in (2, 10):
            got = drift.psi_from_merged(pts, bins).collect()
            want = _psi_bruteforce(table, bins)
            assert [(r["bin"], r["ref_n"], r["live_n"]) for r in got] == [
                w[:3] for w in want
            ], (trial, bins)
            for r, (_, _, _, term, psi) in zip(got, want):
                assert abs(r["term"] - term) <= 1e-6, (trial, bins, r, term)
                assert abs(r["psi_cum"] - psi) <= 1e-6, (trial, bins, r, psi)


def test_psi_one_bin_holds_everything(spark):
    """``bins = 1`` has no cut: every value, NULL included, lands in
    the one bin, so both sides' shares are 1 and PSI is 0. Fewer
    than one bin is an error, not an empty or reversed bin spine."""
    ref = _counts(spark, [1, 2, 2, None])
    live = _counts(spark, [5, 6, None, None, 7])
    rows = [tuple(r) for r in drift.psi_from_counts(ref, live, bins=1).collect()]
    assert rows == [(1, 4, 5, 0.0, 0.0)]
    with pytest.raises(ValueError):
        drift.psi_from_counts(ref, live, bins=0)


def test_psi_identical_distributions_near_zero(spark):
    vals = list(range(100)) * 5
    rows = drift.psi_from_counts(
        _counts(spark, vals), _counts(spark, vals)
    ).collect()
    psi = {r["bin"]: r for r in rows}[10]["psi_cum"]
    assert abs(psi) < 1e-6, psi
    # every decile bin carries ~equal reference mass (exact quantile
    # cuts on 500 uniform rows)
    ns = [r["ref_n"] for r in rows]
    assert min(ns) > 0 and max(ns) <= 2 * min(ns)


def test_psi_detects_shift(spark):
    ref = _counts(spark, list(range(100)) * 5)
    live = _counts(spark, [v + 60 for v in range(100)] * 5)
    rows = drift.psi_from_counts(ref, live).collect()
    psi = {r["bin"]: r for r in rows}[10]["psi_cum"]
    assert psi > 0.25, psi


@pytest.mark.parametrize(
    "name, most",
    [
        ("q177_ks_source_drift", 2),
        ("q182_psi_drift", 2),
        ("q213_streaming_psi_snapshot", 3),
    ],
)
def test_drift_finish_runs_one_job(spark, sf_dir, name, most):
    """A warm drift query's plan runs the shuffle-map job of its count
    aggregate (q213: also the live partials' sum) and ONE job for the
    finish: the finish plans no join, no broadcast and no exchange of
    its own. The cut-table form ran 10 jobs for q182 and 12 for
    q213. Building the frame is left out: q213's two parquet reads
    each start a schema job there."""
    build = all_queries()[name]
    build(spark, sf_dir).collect()  # cold: q213 streams its partials here
    df = build(spark, sf_dir)
    rows, jobs = in_group(spark, f"drift-jobs-{name}", df.collect)
    assert rows
    assert len(jobs) <= most, (name, len(jobs))


def test_unigram_kl_zero_for_identical_groups(spark):
    """Two groups with identical token distributions sit at KL ≈ 0
    (up to the ln-pinning quantum); a
    group spamming one token scores strictly higher."""
    from cr_data_pipeline_project_spark.operators.drift import unigram_kl

    same = "alpha beta gamma delta"
    rows = [("g1", same), ("g2", same)]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r["source"]: r for r in unigram_kl(df, "text", "source").collect()}
    # both groups EQUAL the mixture → 0 up to the 1e-5 ln pinning
    # quantum (each pinned ln rounds independently, so the four
    # factors leave a ±quantum residue instead of cancelling)
    assert abs(got["g1"]["kl_nats"]) < 1e-4
    assert got["g1"]["kl_nats"] == got["g2"]["kl_nats"]
    assert got["g1"]["n_tokens"] == 4 and got["g1"]["distinct_tokens"] == 4

    # a group that skews the shared vocab diverges from the mixture
    rows2 = rows + [("g3", "alpha alpha alpha alpha alpha alpha")]
    df2 = spark.createDataFrame(rows2, "source string, text string")
    got2 = {
        r["source"]: r["kl_nats"]
        for r in unigram_kl(df2, "text", "source").collect()
    }
    assert got2["g1"] == got2["g2"]
    assert got2["g3"] > 0.0 and got2["g1"] > 0.0


def test_unigram_kl_matches_direct_formula(spark):
    """The sparse closed-form absent-mass identity equals the naive
    full-vocab smoothed KL computed in Python (up to the 1e-5 ln
    pinning)."""
    import math

    from collections import Counter

    from cr_data_pipeline_project_spark.operators.drift import unigram_kl

    rows = [
        ("a", "x x y z"),
        ("a", "x w"),
        ("b", "y y y q q z"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r["source"]: r["kl_nats"] for r in unigram_kl(df, "text", "source").collect()}

    groups = {}
    for g, t in rows:
        groups.setdefault(g, []).extend(t.split(" "))
    corpus = Counter(w for ws in groups.values() for w in ws)
    V, n_c = len(corpus), sum(corpus.values())
    for g, ws in groups.items():
        cg = Counter(ws)
        n_g = len(ws)
        kl = 0.0
        for w in corpus:
            pg = (cg[w] + 1) / (n_g + V)
            pc = (corpus[w] + 1) / (n_c + V)
            kl += pg * math.log(pg / pc)
        assert abs(got[g] - kl) < 1e-4, (g, got[g], kl)


def test_drift_lake_is_removed_at_exit(tmp_path, sf_dir):
    """The temp-dir lakes queries build once per process — q212-q214's
    streamed drift partials, q103/q104's near-dup index, q110's PQ
    index, q112's near-dup components and q244's DP partials — are
    removed at interpreter exit: a child process that builds q104,
    q110, q112, q212 and q244 and exits leaves no ``sg_*`` dir
    behind."""
    import os
    import subprocess
    import sys

    prefixes = (
        "sg_neardup_idx_", "sg_pq_idx_", "sg_neardup_comp_",
        "sg_drift_lake_", "sg_dp_lake_",
    )
    child = (
        "import glob, sys, tempfile\n"
        "from cr_data_pipeline_project_spark.plans import all_queries\n"
        "from cr_data_pipeline_project_spark.session import get_session\n"
        "spark = get_session('drift-lake', master='local[2]',"
        " shuffle_partitions=2)\n"
        "qs = all_queries()\n"
        "for name in ('q104_neardup_probe', 'q110_pq_ann_topk',"
        " 'q112_neardup_dedup_export', 'q212_streaming_ks_snapshot',"
        " 'q244_streaming_dp_snapshot'):\n"
        "    qs[name](spark, sys.argv[1])\n"
        "for prefix in sys.argv[2:]:\n"
        "    print(prefix, len(glob.glob(tempfile.gettempdir()"
        " + '/' + prefix + '*')))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", child, sf_dir, *prefixes],
        cwd=repo,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    # each lake existed, once, while the child ran
    counts = dict(line.split() for line in out.splitlines()[-len(prefixes):])
    assert counts == {prefix: "1" for prefix in prefixes}
    for prefix in prefixes:
        assert list(tmp_path.glob(prefix + "*")) == []
