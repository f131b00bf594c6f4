"""Unit tests for bench.py's drift-normalized regression warner
(pure functions — no Spark session), its record fields and its
baseline choice; one test times a trivial query on the session.

Round-9 verdict: bench totals swung 209.8→251.4 s with zero code
change, so raw per-query ratios manufacture WARNs. The calibration
protocol divides this run's times by (calib_now / calib_prev) before
applying the 1.5× + 0.5 s thresholds.
"""

from __future__ import annotations

import importlib.util
import os

_SPEC = importlib.util.spec_from_file_location(
    "bench",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"),
)
bench = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bench)


def test_drift_factor_basics():
    assert bench._drift_factor(0.30, 0.30) == 1.0
    assert bench._drift_factor(0.60, 0.30) == 2.0
    # pre-calibration history records (no calib) → no normalization
    assert bench._drift_factor(0.30, None) == 1.0
    assert bench._drift_factor(0.0, 0.30) == 1.0
    # cap: a calibration fluke can't hide a huge regression
    assert bench._drift_factor(3.0, 0.30) == 3.0
    # floor at 1.0: a lucky (fast) probe must never INFLATE
    # normalized ratios — observed live: a 0.147 s probe outlier vs
    # a 0.261 s baseline turned raw-1.00× queries into WARNs
    assert bench._drift_factor(0.147, 0.261) == 1.0
    assert bench._drift_factor(0.01, 0.30) == 1.0


def test_uniform_host_slowdown_produces_no_warns():
    """A 1.7× uniformly slower host window (the round-9 failure
    mode) must not WARN once drift-normalized."""
    prev = {"qA": 1.0, "qB": 2.0, "qC": 0.4}
    times = {n: t * 1.7 for n, t in prev.items()}
    drift = bench._drift_factor(0.51, 0.30)  # 1.7
    assert bench._regressed(times, prev, drift) == []
    # ...while the raw (drift=1.0) comparison would have warned
    assert bench._regressed(times, prev, 1.0) == ["qA", "qB"]


def test_real_regression_survives_normalization():
    """A genuine 3× regression on a stable host still warns, even
    when the calibration says the host is 1.3× slower."""
    prev = {"qA": 1.0, "qB": 2.0}
    times = {"qA": 3.0, "qB": 2.1}
    drift = bench._drift_factor(0.39, 0.30)  # 1.3
    assert bench._regressed(times, prev, drift) == ["qA"]


def test_thresholds_still_apply():
    # sub-threshold absolute delta never warns regardless of ratio
    assert bench._regressed({"q": 0.3}, {"q": 0.1}, 1.0) == []
    # tiny previous times (<=0.05s) are noise, never a baseline
    assert bench._regressed({"q": 5.0}, {"q": 0.04}, 1.0) == []


def test_compact_report_carries_calibration_and_fits_budget():
    """The driver json-parses the final stdout line and keeps only
    its tail — the report must carry the calibration fields (the
    next round's normalization baseline) and stay inside the
    line budget with the slowest queries first."""
    import json

    times = {f"q{i:03d}_x": round(0.1 + (i % 37) / 10, 3) for i in range(272)}
    total = round(sum(times.values()), 3)
    rep = bench._compact_report(times, total, calib=0.251)
    line = json.dumps(rep)
    assert len(line) <= bench._LINE_BUDGET + 200
    assert rep["calib_sec"] == 0.251 and rep["calib_v"] == 2
    assert rep["value"] == total
    # slowest-first: every kept query is >= every omitted one
    kept = list(rep["queries"].values())
    assert kept == sorted(kept, reverse=True)
    assert rep["omitted"]["n"] + len(kept) == len(times)


def test_driver_wrapper_format_parses():
    """The driver's BENCH_r*.json is a WRAPPER: the printed JSON line
    lives under its ``parsed`` key. Reading the top level returns
    nothing (round-11 finding) — _parse_driver_bench must unwrap it,
    and BENCH_r10.json is pinned as the first driver artifact
    carrying calib_v 2, so its calibration must round-trip."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_r10.json")) as f:
        rec = json.load(f)
    queries, calib = bench._parse_driver_bench(rec, 0.1)
    assert queries and calib == 0.273
    assert queries["q103_neardup_index_build"] == 6.886
    # scale-factor mismatch → not comparable
    assert bench._parse_driver_bench(rec, 0.01) == ({}, None)
    # a bare line record (local-history shape) parses too
    bare = {"sf": 0.1, "calib_sec": 0.2, "calib_v": 2, "queries": {"q": 1.0}}
    assert bench._parse_driver_bench(bare, 0.1) == ({"q": 1.0}, 0.2)
    # v1 / missing calib_v → queries usable, calib ignored
    v1 = {"sf": 0.1, "calib_sec": 0.2, "queries": {"q": 1.0}}
    assert bench._parse_driver_bench(v1, 0.1) == ({"q": 1.0}, None)


def test_driver_r10_baseline_warn_pair():
    """Round-10 verdict #7, exactly as ordered: against the driver's
    own calib_v2 record (BENCH_r10), a synthetic next run that is
    uniformly 1.3× slower (probe slowed the same) produces ZERO
    WARNs, while a single-query 2× regression on a flat host still
    fires — and only that query."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_r10.json")) as f:
        prev, prev_calib = bench._parse_driver_bench(json.load(f), 0.1)
    assert prev and prev_calib

    # uniform 1.3× slowdown, probe drifts with it → no WARNs
    slow = {n: round(t * 1.3, 3) for n, t in prev.items()}
    drift = bench._drift_factor(prev_calib * 1.3, prev_calib)
    assert bench._regressed(slow, prev, drift) == []

    # single-query 2× on a flat host → exactly that query
    culprit = max(prev, key=prev.get)  # big enough to clear 0.5 s
    real = dict(prev)
    real[culprit] = round(prev[culprit] * 2, 3)
    drift = bench._drift_factor(prev_calib, prev_calib)
    assert bench._regressed(real, prev, drift) == [culprit]


def test_contamination_note_fires_on_window_pattern():
    """Many queries regressing together + flat unflagged median =
    the round-10 contention-window pattern → note emitted; a broad
    REAL regression (unflagged median elevated too) stays silent."""
    prev = {f"q{i}": 1.0 for i in range(40)}
    # window pattern: 10 flagged at 3x, the other 30 flat
    times = {f"q{i}": (3.0 if i < 10 else 0.95) for i in range(40)}
    flagged = [f"q{i}" for i in range(10)]
    note = bench._contamination_note(times, prev, flagged)
    assert note and "contention window" in note
    # too few flagged → no note
    assert bench._contamination_note(times, prev, flagged[:3]) is None
    # broad real regression: unflagged rest is ALSO 1.3x → no note
    times_broad = {f"q{i}": (3.0 if i < 10 else 1.3) for i in range(40)}
    assert bench._contamination_note(times_broad, prev, flagged) is None


def test_records_carry_codegen_compiles_and_the_line_is_unchanged(
    tmp_path, monkeypatch
):
    """``codegen_compiles`` (classes compiled during each query's kept
    run) goes to the history record and the detail file; the printed
    line keeps its exact bytes."""
    import json

    monkeypatch.setattr(bench, "_HISTORY", str(tmp_path / "history.jsonl"))
    monkeypatch.setattr(bench, "_DETAIL", str(tmp_path / "metrics" / "detail.json"))
    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.1")
    times, compiles = {"qA": 1.5, "qB": 0.25}, {"qA": 0, "qB": 3}
    bench._append_history(times, 1.75, 0.25, compiles)
    bench._write_detail(times, 1.75, 0.25, compiles)
    with open(bench._HISTORY) as f:
        (hist,) = [json.loads(line) for line in f]
    with open(bench._DETAIL) as f:
        detail = json.load(f)
    assert hist["codegen_compiles"] == compiles
    assert detail["codegen_compiles"] == compiles
    assert hist["queries"] == detail["queries"] == times
    assert json.dumps(bench._compact_report(times, 1.75, 0.25)) == (
        '{"metric": "total_query_wall_seconds", "value": 1.75, "unit": "sec", '
        '"calib_sec": 0.25, "calib_v": 2, "queries": {"qA": 1.5, "qB": 0.25}, '
        '"omitted": {"n": 0, "total_sec": 0}, '
        '"detail": "docs/metrics/bench_full_latest.json", "sf": 0.1}'
    )


def test_timed_run_counts_compiles(spark):
    """A repeated run reuses its generated classes: 0 compiles."""
    def build(s, _):
        return s.range(7).selectExpr("id * 7 + 3 AS x")

    wall, _ = bench._timed_run(spark, build)
    assert wall > 0
    assert bench._timed_run(spark, build)[1] == 0


def test_baseline_requires_matching_cpus(tmp_path, monkeypatch):
    """A history record without a core count is no baseline for any
    core count; a record of another core count is none either."""
    import json

    hist = tmp_path / "history.jsonl"
    monkeypatch.setattr(bench, "_HISTORY", str(hist))
    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.5")  # no BENCH_r*.json
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    legacy = {"sf": 0.5, "calib": 0.2, "calib_v": 2, "queries": {"q": 1.0}}
    hist.write_text(json.dumps(legacy) + "\n")
    assert bench._load_prev() == ({}, None, None)

    full = dict(legacy, cpus="32", queries={"q": 2.0})
    eight = dict(legacy, cpus="8", queries={"q": 3.0})
    hist.write_text("".join(json.dumps(r) + "\n" for r in (full, legacy, eight)))
    assert bench._load_prev() == ({"q": 2.0}, 0.2, "history.jsonl")
