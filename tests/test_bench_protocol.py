"""Unit tests for bench.py's drift-normalized regression warner
(pure functions — no Spark session), its record fields and its
baseline choice; two tests time trivial queries on the session, and
one runs bench's main loop in a child process.

Round-9 verdict: bench totals swung 209.8→251.4 s with zero code
change, so raw per-query ratios manufacture WARNs. The calibration
protocol divides this run's times by (calib_now / calib_prev) before
applying the 1.5× + 0.5 s thresholds. The probe is perfbench's
yardstick (``calib_v`` 3), and the per-layer fields come from
perfbench's tracer.
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
    assert rep["calib_sec"] == 0.251 and rep["calib_v"] == 3
    assert rep["value"] == total
    # slowest-first: every kept query is >= every omitted one
    kept = list(rep["queries"].values())
    assert kept == sorted(kept, reverse=True)
    assert rep["omitted"]["n"] + len(kept) == len(times)


def test_driver_wrapper_format_parses():
    """The driver's BENCH_r*.json is a WRAPPER: the printed JSON line
    lives under its ``parsed`` key. Reading the top level returns
    nothing (round-11 finding) — _parse_driver_bench must unwrap it.
    BENCH_r10.json carries a calib_v 2 probe (the lineitem group-by):
    its queries are a baseline, its calibration is not one for the
    yardstick (calib_v 3)."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_r10.json")) as f:
        rec = json.load(f)
    assert rec["parsed"]["calib_v"] == 2 and rec["parsed"]["calib_sec"] == 0.273
    queries, calib = bench._parse_driver_bench(rec, 0.1)
    assert queries and calib is None
    assert queries["q103_neardup_index_build"] == 6.886
    # scale-factor mismatch → not comparable
    assert bench._parse_driver_bench(rec, 0.01) == ({}, None)
    # a bare line record (local-history shape) parses too
    bare = {"sf": 0.1, "calib_sec": 0.05, "calib_v": 3, "queries": {"q": 1.0}}
    assert bench._parse_driver_bench(bare, 0.1) == ({"q": 1.0}, 0.05)
    # another probe version (v2) / missing calib_v (v1) → queries
    # usable, calib ignored
    v2 = dict(bare, calib_v=2)
    assert bench._parse_driver_bench(v2, 0.1) == ({"q": 1.0}, None)
    v1 = {"sf": 0.1, "calib_sec": 0.2, "queries": {"q": 1.0}}
    assert bench._parse_driver_bench(v1, 0.1) == ({"q": 1.0}, None)


def test_driver_r10_baseline_warn_pair():
    """Round-10 verdict #7: against a driver record carrying the
    current probe (BENCH_r10's queries, wrapped as a calib_v 3 line
    with a yardstick reading), a synthetic next run that is uniformly
    1.3× slower (probe slowed the same) produces ZERO WARNs, while a
    single-query 2× regression on a flat host still fires — and only
    that query. BENCH_r10 itself (calib_v 2) gives no drift baseline,
    so its queries are compared raw (drift 1.0)."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_r10.json")) as f:
        r10 = json.load(f)
    assert bench._parse_driver_bench(r10, 0.1)[1] is None
    rec = {"parsed": dict(r10["parsed"], calib_sec=0.05, calib_v=3)}
    prev, prev_calib = bench._parse_driver_bench(rec, 0.1)
    assert prev and prev_calib == 0.05

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


# perfbench's per-layer names of a query op, as bench records them:
# plan building, eager jobs, and execution (no catalyst.plan_s: its
# read would plan the frame again inside the timed window).
LAYER_FIELDS = (
    "plans.build_s", "plans.py4j_calls", "catalog.table_calls",
    "operators.eager_jobs", "operators.eager_s",
    "exec.sink_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.failed_tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.input_mb",
    "exec.spill_mb", "exec.slot_busy_ratio", "exec.idle_s",
)


def test_layer_fields_are_perfbench_query_fields():
    assert bench.LAYER_FIELDS == LAYER_FIELDS
    assert set(LAYER_FIELDS) <= set(bench.PER_LAYER)


def test_records_carry_codegen_compiles_and_the_line_is_unchanged(
    tmp_path, monkeypatch
):
    """``codegen_compiles`` (classes compiled during each query's kept
    run) and ``layers`` (its per-layer fields) go to the history
    record and the detail file; the printed line keeps its exact
    bytes apart from ``calib_v``, and carries no layer field."""
    import json

    monkeypatch.setattr(bench, "_HISTORY", str(tmp_path / "history.jsonl"))
    monkeypatch.setattr(bench, "_DETAIL", str(tmp_path / "metrics" / "detail.json"))
    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.1")
    times, compiles = {"qA": 1.5, "qB": 0.25}, {"qA": 0, "qB": 3}
    layers = {n: dict.fromkeys(LAYER_FIELDS, 1.0) for n in times}
    bench._append_history(times, 1.75, 0.25, compiles, layers)
    bench._write_detail(times, 1.75, 0.25, compiles, layers)
    with open(bench._HISTORY) as f:
        (hist,) = [json.loads(line) for line in f]
    with open(bench._DETAIL) as f:
        detail = json.load(f)
    assert hist["codegen_compiles"] == compiles
    assert detail["codegen_compiles"] == compiles
    assert hist["queries"] == detail["queries"] == times
    assert hist["layers"] == detail["layers"] == layers
    assert hist["calib"] == 0.25 and hist["calib_v"] == 3
    assert json.dumps(bench._compact_report(times, 1.75, 0.25)) == (
        '{"metric": "total_query_wall_seconds", "value": 1.75, "unit": "sec", '
        '"calib_sec": 0.25, "calib_v": 3, "queries": {"qA": 1.5, "qB": 0.25}, '
        '"omitted": {"n": 0, "total_sec": 0}, '
        '"detail": "docs/metrics/bench_full_latest.json", "sf": 0.1}'
    )


class _FakeTracer:
    """Stands in for perfbench's tracer: the sink of the run kept for
    query i ran stages up to ``marks[i]``; every read is logged."""

    def __init__(self, marks):
        self.marks, self.reads, self.spans = dict(marks), [], []

    def _jobs(self, group):
        return [{"stages": [{"id": self.marks[group]}]}]

    def collect(self):
        self.reads.append([s["op"] for s in self.spans])

    def layer_metrics(self, passes, cores):
        return dict.fromkeys(bench.PER_LAYER, float(cores))


def test_layers_read_in_batches_inside_the_stage_budget(monkeypatch):
    """Kept runs wait for one status-store read until the stages
    started since the first of them pass the budget; the last batch
    is read by ``flush``."""
    monkeypatch.setattr(bench, "STAGE_BUDGET", 100)
    marks = {"qA": 30, "qB": 90, "qC": 130, "qD": 150, "qE": 260}
    tracer = _FakeTracer(marks)
    layers = bench._Layers(tracer, cores=4)
    for name in marks:
        layers.keep(name, {"op": name, "phases": [{"group": name}]})
    assert tracer.reads == [["qA", "qB", "qC"], ["qD", "qE"]]
    layers.keep("qF", {"op": "qF", "phases": [{"group": "qE"}]})
    layers.flush()
    layers.flush()  # nothing pending: no read
    assert tracer.reads[2:] == [["qF"]]
    assert set(layers.fields) == set(marks) | {"qF"}
    assert layers.fields["qA"] == dict.fromkeys(LAYER_FIELDS, 4.0)


def test_calibration_is_the_yardstick_median(monkeypatch):
    """``calib`` is the median of ``yardstick.measure`` (perfbench's
    host probe); bench's own lineitem probe is gone."""
    monkeypatch.setattr(bench.yardstick, "measure", lambda s: [0.07, 0.05, 0.06])
    assert bench._calibration(None) == 0.06
    assert bench.CALIB_V == 3
    assert not hasattr(bench, "_calibration_time")


def test_timed_run_counts_compiles(spark):
    """A repeated run reuses its generated classes: 0 compiles."""
    def build(s, _):
        return s.range(7).selectExpr("id * 7 + 3 AS x")

    from tracing import NullTracer  # perfbench/, on the path once bench loads

    tracer = NullTracer()
    wall, _ = bench._timed_run(spark, build, tracer)
    assert wall > 0
    assert bench._timed_run(spark, build, tracer)[1] == 0


_CHILD = r"""
import json, sys, time
import importlib.util

spec = importlib.util.spec_from_file_location("bench", sys.argv[1])
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)
out = sys.argv[2]
bench.SF_DIR = sys.argv[3]
bench._HISTORY = out + "/history.jsonl"
bench._DETAIL = out + "/detail.json"
real = bench.all_queries()
calls = []


def eager(s, _):
    calls.append(1)
    if len(calls) <= 3:  # the sweep's three runs; the re-measure's are fast
        time.sleep(0.7)
    n = s.range(10).count()  # an action while building
    return s.range(n).selectExpr("sum(id)")


# a baseline in which qz_eager ran in 0.06 s: the sweep's 0.7 s reads
# as a regression, so qz_eager is re-measured and the faster run kept
with open(bench._HISTORY, "w") as f:
    f.write(json.dumps({"sf": 0.001, "cpus": "2", "calib": 1.0, "calib_v": 3,
                        "queries": {"qz_eager": 0.06}}) + "\n")


qs = {
    "q01_pricing_summary": real["q01_pricing_summary"],
    "q177_ks_source_drift": real["q177_ks_source_drift"],
    "qz_eager": eager,
}
bench.all_queries = lambda: dict(qs)
bench.main()

# the timed window gains the two phases' job-group calls (4 py4j
# calls) over an untraced run, and nothing else; py4j's object
# releases ("m" commands) follow the garbage collector, not the run
from cr_data_pipeline_project_spark.session import get_session
from tracing import NullTracer
spark = get_session("bench")
tracer = bench.Tracer()
tracer.install(spark)
client = spark.sparkContext._gateway._gateway_client
send, sent = client.send_command, []


def counted(cmd, *args, **kwargs):
    if not cmd.startswith("m\n"):
        sent.append(cmd)
    return send(cmd, *args, **kwargs)


client.send_command = counted
build = lambda s, _: s.range(7).selectExpr("id * 7 + 3 AS x")
calls = []
for t in (NullTracer(), tracer, NullTracer(), tracer):
    sent.clear()
    bench._timed_run(spark, build, t)
    calls.append(len(sent))
print(json.dumps({"py4j": calls}))
"""


def test_bench_main_records_layers_for_every_query(tmp_path, sf_dir):
    """bench's main loop in a child process (the tracer wraps the
    process's py4j client and ``catalog.table``): every timed query,
    a re-measured one included, carries every per-layer field in the
    history record and the detail file; the last report line parses;
    a traced run sends exactly 4 more py4j calls than an untraced
    one."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    lines = subprocess.run(
        [sys.executable, "-c", _CHILD, os.path.join(repo, "bench.py"),
         str(tmp_path), sf_dir],
        cwd=repo, env=env, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    report = json.loads(lines[-2])
    assert list(report) == [
        "metric", "value", "unit", "calib_sec", "calib_v", "queries",
        "omitted", "detail", "sf",
    ]
    assert report["calib_v"] == 3 and report["calib_sec"] > 0
    with open(tmp_path / "history.jsonl") as f:
        _, hist = [json.loads(line) for line in f]
    with open(tmp_path / "detail.json") as f:
        detail = json.load(f)
    assert hist["queries"]["qz_eager"] < 0.5  # the re-measured run
    names = {"q01_pricing_summary", "q177_ks_source_drift", "qz_eager"}
    for rec in (hist, detail):
        assert set(rec["queries"]) == set(rec["layers"]) == names
        for fields in rec["layers"].values():
            assert set(fields) == set(LAYER_FIELDS)
            assert fields["exec.jobs"] >= 1 and fields["exec.tasks"] >= 1
            assert fields["plans.py4j_calls"] > 0
    layers = hist["layers"]
    assert layers["qz_eager"]["operators.eager_jobs"] >= 1
    assert layers["q01_pricing_summary"]["operators.eager_jobs"] == 0
    assert layers["q01_pricing_summary"]["catalog.table_calls"] >= 1
    assert layers["q01_pricing_summary"]["exec.input_mb"] > 0
    untraced, traced = json.loads(lines[-1])["py4j"][2:]
    assert traced - untraced == 4


def test_baseline_requires_matching_cpus(tmp_path, monkeypatch):
    """A history record without a core count is no baseline for any
    core count; a record of another core count is none either."""
    import json

    hist = tmp_path / "history.jsonl"
    monkeypatch.setattr(bench, "_HISTORY", str(hist))
    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.5")  # no BENCH_r*.json
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    legacy = {"sf": 0.5, "calib": 0.2, "calib_v": 3, "queries": {"q": 1.0}}
    hist.write_text(json.dumps(legacy) + "\n")
    assert bench._load_prev() == ({}, None, None)

    full = dict(legacy, cpus="32", queries={"q": 2.0})
    eight = dict(legacy, cpus="8", queries={"q": 3.0})
    hist.write_text("".join(json.dumps(r) + "\n" for r in (full, legacy, eight)))
    assert bench._load_prev() == ({"q": 2.0}, 0.2, "history.jsonl")


_ACCOUNTING = ("getJobIdsForGroup", "statusStore", "statusTracker", "setJobGroup")


def test_one_measurement_harness():
    """Job-group and status-store accounting lives in perfbench's
    tracer (besides the run log's job-tag read in ``pipeline.py`` and
    ``tests/helpers.in_group``): ``bench.py`` and ``tools/`` hold none
    of it. And nothing a reader runs or follows (code, ``docs/``,
    ``README.md``, the verify skill) names the deleted per-query
    profiler; only the root-level records of earlier rounds do."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(repo, "tools")
    for path in [os.path.join(repo, "bench.py")] + [
        os.path.join(tools, n) for n in os.listdir(tools) if n.endswith(".py")
    ]:
        with open(path) as f:
            text = f.read()
        assert not [w for w in _ACCOUNTING if w in text], path

    gone = "tools/profile_query.py"
    assert not os.path.exists(os.path.join(repo, gone))
    paths = [os.path.join(repo, "README.md")]
    skill = os.path.join(repo, ".claude", "skills", "verify", "SKILL.md")
    if os.path.exists(skill):
        paths.append(skill)
    for d, dirs, files in os.walk(repo):
        dirs[:] = [n for n in dirs if not n.startswith(".") and n != "spark-warehouse"]
        if d != repo:
            paths += [os.path.join(d, n) for n in files]
    paths += [os.path.join(repo, n) for n in os.listdir(repo) if n.endswith(".py")]
    this = os.path.abspath(__file__)
    for path in paths:
        if path == this or path.endswith((".pyc", ".parquet")):
            continue
        with open(path, errors="replace") as f:
            assert gone not in f.read(), path
