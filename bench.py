"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query executes end-to-end into a no-op sink (full compute, no
driver collect overhead). A warm-up pass primes the JVM/codegen; the
reported number is the post-warmup run, which is what a resident
cluster would see.

Measurement goes through the benchmark's own code in ``perfbench/``
(imported by path): every timed run is a ``build`` phase and a
``sink`` phase of ``tracing.Tracer``, and the per-layer fields of each
query's kept run (plan building, eager jobs, execution) go to the
detail file and the history record under ``layers``. The host-speed
probe is ``yardstick.measure``, read at both ends of every sweep; its
ratio to the previous run's reading estimates host drift, and
regression WARNs compare drift-NORMALIZED times (round-9 totals
swung 209.8→251.4 s with zero code change — raw ratios manufacture
WARNs a later round must re-litigate).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "perfbench"))

import yardstick  # noqa: E402
from stats import median  # noqa: E402
from tracing import PER_LAYER, Tracer  # noqa: E402

from cr_data_pipeline_project_spark.plans import all_queries  # noqa: E402
from cr_data_pipeline_project_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Probe version of ``calib``: 3 = median of ``yardstick.measure``. A
# record of another version is never a drift baseline (v2 timed a
# lineitem group-by, v1 took a min-of-3 of it).
CALIB_V = 3

# Per-layer fields of a query op, as perfbench names them. Catalyst's
# planning time is left out: the no-op write plans its own
# QueryExecution, and reading a plan time from Python means planning
# the frame a second time inside the timed window. That time stays in
# ``exec.sink_s`` and ``exec.idle_s``.
LAYER_FIELDS = (
    "plans.build_s", "plans.py4j_calls", "catalog.table_calls",
    "operators.eager_jobs", "operators.eager_s",
) + tuple(k for k in PER_LAYER if k.startswith("exec."))

# Spark's status store keeps the last 1,000 jobs and 1,000 stages (its
# defaults) and drops the oldest 10% when full. Every kept run waiting
# to be read must still be there when it is, so the pending runs are
# read once the stages started since the first of them pass this
# budget (each job starts at least one new stage, so jobs stay inside
# it too). One read per batch, not per query: each read first waits
# for the listener bus. The heaviest query at sf0.01 starts 216
# stages in its three runs.
STAGE_BUDGET = 500


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _compile_count(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _timed_run(spark, build, tracer) -> tuple[float, int]:
    """(wall seconds, classes compiled) of one builder call + sink.
    Builder invocation is INSIDE the timed window: iterative operators
    (q66 connected components) run actions while building, and that
    compute is part of the query. Each half runs as a tracer phase
    (its own job group: two py4j calls); the compile counter is read
    outside the window."""
    c0 = _compile_count(spark)
    t0 = time.time()
    with tracer.phase("build"):
        df = build(spark, SF_DIR)
    with tracer.phase("sink"):
        run_query(df)
    wall = time.time() - t0
    return wall, _compile_count(spark) - c0


def _best_of(spark, tracer, name, build) -> tuple[float, int, dict]:
    """(wall, compiles, tracer span) of the fastest of three runs:
    steady-state compute time (what a resident cluster sees), not
    first-run codegen/file-listing noise nor driver-host contention
    spikes (round-3 verdict: 2 runs let one noisy host window
    manufacture 3× outliers on trivial plans)."""
    best = None
    for i in range(3):
        with tracer.op(name, i):
            wall, compiles = _timed_run(spark, build, tracer)
        run = (wall, compiles, tracer.spans.pop())
        if best is None or run[:2] < best[:2]:
            best = run
    return best


class _Layers:
    """Per-layer fields of each query's kept run, read from Spark's
    status store in batches that stay inside ``STAGE_BUDGET``."""

    def __init__(self, tracer, cores: int) -> None:
        self.tracer, self.cores = tracer, cores
        self.pending: dict[str, dict] = {}
        self.fields: dict[str, dict[str, float]] = {}
        self.first = self.last = 0  # stage-id marks

    def _stage_mark(self, span: dict) -> int:
        """Highest stage id of the span's sink jobs the store holds,
        read without waiting for the listener bus. The kept run may be
        up to two runs before its query's last, so a batch can pass
        the budget by that much (at most 150 stages at sf0.01)."""
        jobs = self.tracer._jobs(span["phases"][-1]["group"])
        return max([s["id"] for j in jobs for s in j["stages"]], default=self.last)

    def keep(self, name: str, span: dict) -> None:
        if not self.pending:
            self.first = self.last
        self.pending[name] = span
        self.last = self._stage_mark(span)
        if self.last - self.first >= STAGE_BUDGET:
            self.flush()

    def flush(self) -> None:
        if not self.pending:
            return
        self.tracer.spans = list(self.pending.values())
        self.tracer.collect()
        for name, span in self.pending.items():
            self.tracer.spans = [span]
            m = self.tracer.layer_metrics([], self.cores)
            self.fields[name] = {k: round(m[k], 6) for k in LAYER_FIELDS}
        self.tracer.spans, self.pending = [], {}


def _calibration(spark) -> float:
    """Host-speed probe: median of ``yardstick.measure`` (a fixed tiny
    job that runs no engine code, perfbench's choice among several
    probes). The median, not the min: a single lucky run would set a
    too-fast baseline that inflates every normalized ratio."""
    return round(median(yardstick.measure(spark)), 4)


def main() -> None:
    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    # q84 times index build + probe CONFLATED; its bench slot was
    # superseded by the honest q103 (build) / q104 (probe) split in
    # round 5 — keep the query + oracle row (it still attests the
    # one-shot API), but drop the redundant, misleading timing.
    qs.pop("q84_incremental_neardup", None)
    # after all_queries(): the tracer's catalog.table wrapper replaces
    # the name every imported plan module holds
    tracer = Tracer()
    tracer.install(spark)
    tracer.recording = True
    layers = _Layers(tracer, spark.sparkContext.defaultParallelism)

    # warm-up: JVM + codegen + parquet footer caches
    warm = qs["q01_pricing_summary"](spark, SF_DIR)
    run_query(warm)

    # host-speed probe at both ends of the sweep (the sweep takes
    # minutes; load can arrive mid-run) — the min is this run's
    # calibration time
    calib_pre = _calibration(spark)

    # three measured runs per query, report the min (_best_of).
    # codegen_compiles: classes compiled during the kept run — 0 once
    # the query's classes sit in the codegen cache (session.py).
    times: dict[str, float] = {}
    compiles: dict[str, int] = {}
    for name in sorted(qs):
        best, compiles[name], span = _best_of(spark, tracer, name, qs[name])
        times[name] = round(best, 3)
        layers.keep(name, span)
    # a re-measured query's kept run is read at once (below): the
    # runs that do not beat the kept time pass no budget check
    layers.flush()

    # Re-measure suspected regressions before warning: min-of-3 still
    # inflates when the host is loaded for the whole 3-run window
    # (round-7 WARNs q78/q79/q95 had no code change behind them), so
    # anything that looks ≥1.5× slower gets three fresh runs at the
    # END of the sweep — a different load window. Real regressions
    # survive; contention spikes don't.
    calib = min(calib_pre, _calibration(spark))
    prev, prev_calib, src = _load_prev()
    drift = _drift_factor(calib, prev_calib)
    for name in _regressed(times, prev, drift):
        best, comp, span = _best_of(spark, tracer, name, qs[name])
        if (best, comp) < (times[name], compiles[name]):
            times[name], compiles[name] = round(best, 3), comp
            layers.keep(name, span)
            layers.flush()

    total = round(sum(times.values()), 3)
    _warn_regressions(times, prev, src, calib, prev_calib)
    _append_history(times, total, calib, compiles, layers.fields)
    _write_detail(times, total, calib, compiles, layers.fields)
    print(json.dumps(_compact_report(times, total, calib)))
    spark.stop()


# The driver records only the LAST ~2000 characters of stdout and
# json-parses the final line — a full 160+-query dict (~5 KB) gets
# front-truncated and the per-query record is lost (BENCH_r02-r06
# all show "parsed": null). Keep the printed line inside that
# window: slowest queries first (the ones perf review needs), the
# rest folded into an explicit omitted-rollup, full detail in
# docs/metrics/bench_full_latest.json + .bench_history.jsonl.
_LINE_BUDGET = 1800


def _compact_report(times: dict[str, float], total: float, calib: float) -> dict:
    report = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "calib_sec": calib,
        "calib_v": CALIB_V,
        "queries": {},
        # placeholder at maximum rendered width so the size check
        # below bounds the FINAL line, not the pre-rollup one
        "omitted": {"n": 99999, "total_sec": 999999.999},
        "detail": "docs/metrics/bench_full_latest.json",
        "sf": _sf_from_dir(SF_DIR),
    }
    by_cost = sorted(times, key=lambda n: (-times[n], n))
    kept = 0
    for name in by_cost:
        report["queries"][name] = times[name]
        if len(json.dumps(report)) > _LINE_BUDGET:
            del report["queries"][name]
            break
        kept += 1
    omitted = by_cost[kept:]
    report["omitted"] = {
        "n": len(omitted),
        "total_sec": round(sum(times[n] for n in omitted), 3),
    }
    return report


_DETAIL = os.path.join(HERE, "docs", "metrics", "bench_full_latest.json")


def _write_detail(
    times: dict[str, float],
    total: float,
    calib: float,
    compiles: dict[str, int],
    layers: dict[str, dict[str, float]],
) -> None:
    try:
        os.makedirs(os.path.dirname(_DETAIL), exist_ok=True)
        with open(_DETAIL, "w") as f:
            json.dump(
                {
                    "metric": "total_query_wall_seconds",
                    "value": total,
                    "unit": "sec",
                    "calib_sec": calib,
                    "queries": times,
                    "codegen_compiles": compiles,
                    "layers": layers,
                    "sf": _sf_from_dir(SF_DIR),
                    # which core count produced this detail file —
                    # round-11 verdict: the 8-core scaling run
                    # silently overwrote the 32-core detail
                    "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
                },
                f,
                indent=1,
                sort_keys=True,
            )
    except OSError:
        pass


_HISTORY = os.path.join(HERE, ".bench_history.jsonl")


def _append_history(
    times: dict[str, float],
    total: float,
    calib: float,
    compiles: dict[str, int],
    layers: dict[str, dict[str, float]],
) -> None:
    """Append this run to the local history file (the driver's
    BENCH_r*.json wrapper truncates per-query numbers, so the warner
    keeps its own full record)."""
    try:
        with open(_HISTORY, "a") as f:
            f.write(
                json.dumps(
                    {
                        "sf": _sf_from_dir(SF_DIR),
                        # per-record core count so a low-core scaling
                        # run never becomes the WARN baseline for a
                        # full-width run (round-11: the 8-core sweep
                        # manufactured 4 spurious WARNs)
                        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
                        "total": total,
                        # records of another calib_v are ignored as
                        # normalization baselines (CALIB_V)
                        "calib": calib,
                        "calib_v": CALIB_V,
                        "queries": times,
                        "codegen_compiles": compiles,
                        "layers": layers,
                    }
                )
                + "\n"
            )
    except OSError:
        pass


def _parse_driver_bench(
    rec: dict, sf: float
) -> tuple[dict[str, float], float | None]:
    """Extract (queries, calib) from a driver BENCH_r*.json record.
    The driver file is a WRAPPER around the printed JSON line — the
    per-query numbers and calibration live under its ``parsed`` key
    (round-11 finding: reading the top level returned nothing, so a
    fresh clone silently lost the driver baseline); a bare record
    (the line itself, as in local history) also works. Returns
    ({}, None) on a scale-factor mismatch; calib only from records
    of the current probe version (``CALIB_V``): another probe's
    reading is no drift baseline."""
    inner = rec.get("parsed") or rec
    if not isinstance(inner, dict) or inner.get("sf") != sf:
        return {}, None
    calib = inner.get("calib_sec") if inner.get("calib_v") == CALIB_V else None
    return inner.get("queries") or {}, calib


def _load_prev() -> tuple[dict[str, float], float | None, str | None]:
    """Most recent same-sf per-query record (+ its calibration time,
    None for pre-calibration records): local history first (the
    driver's BENCH_r*.json wrapper truncates per-query numbers),
    else the latest driver file."""
    import glob
    import re

    prev: dict[str, float] = {}
    prev_calib: float | None = None
    src = None
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    try:
        with open(_HISTORY) as f:
            for line in f:
                rec = json.loads(line)
                if (
                    rec.get("sf") == _sf_from_dir(SF_DIR)
                    and rec.get("queries")
                    # a record from a different core count — or one
                    # that never said — is not a regression baseline
                    and rec.get("cpus") == cpus
                ):
                    prev, src = rec["queries"], os.path.basename(_HISTORY)
                    prev_calib = (
                        rec.get("calib") if rec.get("calib_v") == CALIB_V else None
                    )
    except (OSError, ValueError):
        pass
    if prev:
        return prev, prev_calib, src
    benches = sorted(
        glob.glob(os.path.join(HERE, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if not benches:
        return {}, None, None
    try:
        with open(benches[-1]) as f:
            rec = json.load(f)
        queries, calib = _parse_driver_bench(rec, _sf_from_dir(SF_DIR))
        if not queries:
            return {}, None, None
        return queries, calib, os.path.basename(benches[-1])
    except (OSError, ValueError):
        return {}, None, None


# A regression needs BOTH a ratio and an absolute-seconds delta:
# sub-second queries bounce 0.2↔0.9 s on a shared host without any
# code change (q79 round-7), and a bare 1.5× ratio turns that jitter
# into WARN lines a future round must re-litigate.
_WARN_FACTOR = 1.5
_WARN_MIN_DELTA_SEC = 0.5


def _drift_factor(calib: float, prev_calib: float | None) -> float:
    """Host-drift estimate: this run's calibration time over the
    previous run's, clamped to [1.0, 3.0]. The floor is 1.0 — not
    symmetric — because normalization exists to EXCUSE a uniformly
    slow host window, never to manufacture WARNs on a fast one: the
    probe's own noise (±40% observed on the earlier ~0.25 s lineitem
    probe) would otherwise inflate raw-1.0× queries past the warn
    threshold whenever the probe got lucky. A real regression still fires on
    its raw ratio. The 3.0 cap keeps a calibration fluke from
    hiding a huge regression. 1.0 when the previous record predates
    the calibration protocol."""
    if not prev_calib or prev_calib <= 0 or not calib:
        return 1.0
    return max(1.0, min(3.0, calib / prev_calib))


def _regressed(
    times: dict[str, float], prev: dict[str, float], drift: float = 1.0
) -> list[str]:
    """Names whose DRIFT-NORMALIZED time regressed: both the ratio
    and the absolute delta are computed on t/drift, so a uniformly
    slow host window (round-9: totals 209.8→251.4 s, zero code
    change) stops manufacturing WARNs."""
    return sorted(
        name
        for name, t in times.items()
        if (p := prev.get(name))
        and p > 0.05
        and t / drift > _WARN_FACTOR * p
        and t / drift - p > _WARN_MIN_DELTA_SEC
    )


def _warn_regressions(
    times: dict[str, float],
    prev: dict[str, float],
    src: str | None,
    calib: float,
    prev_calib: float | None,
) -> None:
    """Warn (stderr, never the JSON line) for queries whose
    drift-normalized time is still ≥1.5× + ≥0.5 s slower than the
    last same-sf run AFTER the end-of-sweep re-measure pass."""
    drift = _drift_factor(calib, prev_calib)
    flagged = _regressed(times, prev, drift)
    for name in flagged:
        t, p = times[name], prev[name]
        print(
            f"WARN bench regression {name}: {t:.3f}s vs {p:.3f}s "
            f"in {src} ({t / p:.2f}x raw, {t / drift / p:.2f}x "
            f"drift-normalized; calib {calib:.3f}s vs "
            f"{prev_calib if prev_calib else float('nan'):.3f}s)",
            file=sys.stderr,
        )
    note = _contamination_note(times, prev, flagged)
    if note:
        print(note, file=sys.stderr)


# A real code change almost never regresses this many UNRELATED
# queries at once while leaving the rest flat — but a contention
# window that outlives the end-of-sweep re-measure pass does exactly
# that (observed round 10: 15 spurious WARNs, median unflagged ratio
# 0.95, all gone on a quiet re-run an hour later).
_CONTAMINATION_MIN_FLAGGED = 8
_CONTAMINATION_FLAT_MEDIAN = 1.15


def _contamination_note(
    times: dict[str, float], prev: dict[str, float], flagged: list[str]
) -> str | None:
    """When many queries regress together while the unflagged rest
    ran flat vs the same baseline, say so next to the WARNs: the
    pattern matches a transient contention window, not a plan
    change — re-measure quiet before acting. Never suppresses the
    per-query WARNs (a genuinely broad regression still shows, and
    its unflagged median would be elevated too)."""
    if len(flagged) < _CONTAMINATION_MIN_FLAGGED:
        return None
    rest = sorted(
        times[n] / prev[n]
        for n in times
        if n not in flagged and prev.get(n, 0) > 0.05
    )
    if not rest:
        return None
    median = rest[len(rest) // 2]
    if median >= _CONTAMINATION_FLAT_MEDIAN:
        return None
    return (
        f"NOTE: {len(flagged)} queries regressed together while the "
        f"median unflagged ratio is {median:.2f}x — pattern matches a "
        "transient contention window (see docs/SCALE.md round-10 "
        "bench protocol), not a plan change; re-measure quiet before "
        "acting on the WARNs above"
    )


if __name__ == "__main__":
    main()
