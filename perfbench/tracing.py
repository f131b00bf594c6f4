"""Per-layer tracing for ``--trace 1`` runs.

The tracer wraps layer calls from the outside; the engine is not
changed. Every op is split into phases (``build`` and ``sink`` for a
query op; ``etl`` for ``run_etl``; ``audit`` for ``audit``), and each
phase runs under its own Spark job group, so every job the phase starts
is attributed to it, including jobs of threads the engine starts with
``inheritable_thread_target``. Wrappers count py4j round trips,
``catalog.table`` calls and ``Lake`` reads and writes. Job, stage and
task figures come from Spark's status store at the end of the run;
spans stay in memory until then and are written once.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

from stats import median, union_length

MB = 1024 * 1024

PER_LAYER = (
    "plans.build_s", "plans.py4j_calls",
    "catalog.table_calls", "catalog.table_s", "catalog.memo_hit_ratio",
    "operators.eager_jobs", "operators.eager_s",
    "catalyst.plan_s",
    "exec.sink_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.input_mb",
    "exec.spill_mb", "exec.slot_busy_ratio", "exec.idle_s",
    "pipeline.etl_run_s", "pipeline.jobs",
    "pipeline.lake_read_s", "pipeline.lake_read_calls",
    "pipeline.lake_write_s", "pipeline.lake_write_calls",
    "pipeline.lake_bytes_written_mb", "pipeline.lake_files_written",
    "pipeline.lake_size_mb",
    "audit.audit_s", "audit.jobs", "audit.input_mb",
    "trace.pass_s", "trace.accounted_ratio",
)


def parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    recording = False

    def install(self, spark) -> None:
        pass

    @contextlib.contextmanager
    def phase(self, name: str):
        yield

    def plan(self, df) -> None:
        pass

    def op(self, name: str, pass_no: int):
        return contextlib.nullcontext()

    def lake_size(self, root: str) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.recording = False
        self.py4j_calls = 0
        self.counters = {
            "table_calls": 0, "table_s": 0.0, "table_hits": 0,
            "read_calls": 0, "read_s": 0.0, "write_calls": 0, "write_s": 0.0,
            "write_bytes": 0, "write_files": 0,
        }
        self._op: dict | None = None
        self._groups = 0
        self.lake_sizes: list[int] = []

    # -- wrappers -----------------------------------------------------
    def install(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._wrap_catalog()
        self._wrap_lake()

    def _wrap_catalog(self) -> None:
        from cr_data_pipeline_project_spark import catalog

        orig = catalog.table
        c = self.counters

        def table(spark, name, sf_dir=None):
            path = os.path.abspath(
                os.path.join(sf_dir or catalog.DEFAULT_SF_DIR, f"{name}.parquet")
            )
            hit = path in getattr(spark, "_graft_table_cache", {})
            t0 = time.perf_counter()
            try:
                return orig(spark, name, sf_dir)
            finally:
                c["table_s"] += time.perf_counter() - t0
                c["table_calls"] += 1
                c["table_hits"] += hit

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("cr_data_pipeline_project_spark")
                    and getattr(mod, "table", None) is orig):
                mod.table = table

    def _wrap_lake(self) -> None:
        from cr_data_pipeline_project_spark.pipeline import Lake

        c = self.counters
        read, append, overwrite = Lake.read, Lake.append, Lake.overwrite

        def timed_read(lake, name, version=None):
            t0 = time.perf_counter()
            try:
                return read(lake, name, version)
            finally:
                c["read_s"] += time.perf_counter() - t0
                c["read_calls"] += 1

        def writer(fn):
            def timed_write(lake, name, *args, **kwargs):
                before = parquet_files(lake.path(name))
                t0 = time.perf_counter()
                try:
                    return fn(lake, name, *args, **kwargs)
                finally:
                    c["write_s"] += time.perf_counter() - t0
                    c["write_calls"] += 1
                    new = {p: s for p, s in parquet_files(lake.path(name)).items()
                           if p not in before}
                    c["write_files"] += len(new)
                    c["write_bytes"] += sum(new.values())
            return timed_write

        Lake.read = timed_read
        Lake.append = writer(append)
        Lake.overwrite = writer(overwrite)

    # -- spans --------------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str, pass_no: int):
        self._op = {"op": name, "pass": pass_no, "phases": []}
        t0 = time.time()
        try:
            yield
        finally:
            span, self._op = self._op, None
            span.update(t0=t0, t1=time.time())
            if self.recording:
                self.spans.append(span)

    @contextlib.contextmanager
    def phase(self, name: str):
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self.sc.setJobGroup(group, name)
        before = dict(self.counters, py4j=self.py4j_calls)
        ph = {"phase": name, "group": group, "plan_ms": 0}
        if self._op is not None:
            self._op["phases"].append(ph)
        ph["t0"] = time.time()
        try:
            yield
        finally:
            ph["t1"] = time.time()
            after = dict(self.counters, py4j=self.py4j_calls)
            ph.update({k: after[k] - before[k] for k in after})
            self.sc.setJobGroup("perfbench-idle", "between phases")

    def plan(self, df) -> None:
        """Force the query's planning and record its tracker's analysis +
        optimization + planning time on the current phase."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        ms = 0
        for key in ("analysis", "optimization", "planning"):
            opt = phases.get(key)
            if opt.isDefined():
                ms += opt.get().durationMs()
        if self._op is not None and self._op["phases"]:
            self._op["phases"][-1]["plan_ms"] += ms

    def lake_size(self, root: str) -> None:
        if self.recording:
            self.lake_sizes.append(sum(parquet_files(root).values()))

    # -- status store -------------------------------------------------
    def _wait_jobs_done(self, timeout: float = 20.0) -> None:
        tracker = self.sc.statusTracker()
        deadline = time.time() + timeout
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)  # let the listener bus drain the last job-end events

    def _jobs(self, group: str) -> list[dict]:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = []
        for jid in tracker.getJobIdsForGroup(group):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            job = {
                "id": jid,
                "t0": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "t1": comp.get().getTime() / 1000 if comp.isDefined() else None,
                "stages": [],
            }
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue
                if str(sd.status().toString()) == "SKIPPED":
                    continue
                job["stages"].append({
                    "id": sid, "attempt": sd.attemptId(),
                    "tasks": sd.numTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "run_ms": sd.executorRunTime(),
                    "cpu_ns": sd.executorCpuTime(),
                    "gc_ms": sd.jvmGcTime(),
                    "input_b": sd.inputBytes(),
                    "shuffle_read_b": sd.shuffleReadBytes(),
                    "shuffle_write_b": sd.shuffleWriteBytes(),
                    "spill_b": sd.diskBytesSpilled(),
                })
            out.append(job)
        return out

    def _task_intervals(self, stage: dict) -> list[tuple[float, float]]:
        store = self.sc._jsc.sc().statusStore()
        tasks = store.taskList(stage["id"], stage["attempt"], 1 << 30)
        out = []
        for i in range(tasks.size()):
            t = tasks.apply(i)
            dur = t.duration()
            if dur.isDefined():
                start = t.launchTime().getTime() / 1000
                out.append((start, start + dur.get() / 1000))
        return out

    def collect(self) -> None:
        """Attach job, stage and task figures to every recorded phase."""
        self.sc.setJobGroup("perfbench-idle", "collect")
        self._wait_jobs_done()
        for span in self.spans:
            for ph in span["phases"]:
                ph["jobs"] = self._jobs(ph["group"])
                if ph["phase"] == "sink":
                    ph["task_intervals"] = [
                        iv for j in ph["jobs"] for s in j["stages"]
                        for iv in self._task_intervals(s)
                    ]

    # -- aggregation --------------------------------------------------
    def layer_metrics(self, passes: list[float], cores: int) -> dict[str, float]:
        n = max(1, len(passes))
        m = dict.fromkeys(PER_LAYER, 0.0)
        sink_wall = 0.0
        for span in self.spans:
            for ph in span["phases"]:
                wall = ph["t1"] - ph["t0"]
                jobs = ph["jobs"]
                stages = [s for j in jobs for s in j["stages"]]
                kind = ph["phase"]
                if kind == "build":
                    eager = union_length(
                        [(j["t0"], j["t1"]) for j in jobs if j["t0"] and j["t1"]],
                        ph["t0"], ph["t1"],
                    )
                    m["plans.build_s"] += wall - eager
                    m["plans.py4j_calls"] += ph["py4j"]
                    m["operators.eager_jobs"] += len(jobs)
                    m["operators.eager_s"] += eager
                    m["catalog.table_calls"] += ph["table_calls"]
                    m["catalog.table_s"] += ph["table_s"]
                    m["catalyst.plan_s"] += ph["plan_ms"] / 1000
                elif kind == "sink":
                    sink_wall += wall
                    m["exec.sink_s"] += wall
                    m["exec.jobs"] += len(jobs)
                    m["exec.stages"] += len(stages)
                    m["exec.tasks"] += sum(s["tasks"] for s in stages)
                    m["exec.failed_tasks"] += sum(s["failed_tasks"] for s in stages)
                    m["exec.task_run_s"] += sum(s["run_ms"] for s in stages) / 1000
                    m["exec.task_cpu_s"] += sum(s["cpu_ns"] for s in stages) / 1e9
                    m["exec.gc_s"] += sum(s["gc_ms"] for s in stages) / 1000
                    m["exec.shuffle_write_mb"] += sum(s["shuffle_write_b"] for s in stages) / MB
                    m["exec.shuffle_read_mb"] += sum(s["shuffle_read_b"] for s in stages) / MB
                    m["exec.input_mb"] += sum(s["input_b"] for s in stages) / MB
                    m["exec.spill_mb"] += sum(s["spill_b"] for s in stages) / MB
                    m["exec.idle_s"] += wall - union_length(
                        ph["task_intervals"], ph["t0"], ph["t1"]
                    )
                    m["catalyst.plan_s"] += ph["plan_ms"] / 1000
                elif kind == "etl":
                    m["pipeline.etl_run_s"] += wall
                    m["pipeline.jobs"] += len(jobs)
                    m["pipeline.lake_read_s"] += ph["read_s"]
                    m["pipeline.lake_read_calls"] += ph["read_calls"]
                    m["pipeline.lake_write_s"] += ph["write_s"]
                    m["pipeline.lake_write_calls"] += ph["write_calls"]
                    m["pipeline.lake_bytes_written_mb"] += ph["write_bytes"] / MB
                    m["pipeline.lake_files_written"] += ph["write_files"]
                elif kind == "audit":
                    m["audit.audit_s"] += wall
                    m["audit.jobs"] += len(jobs)
                    m["audit.input_mb"] += sum(s["input_b"] for s in stages) / MB
        out = {k: v / n for k, v in m.items()}
        calls = sum(ph["table_calls"] for s in self.spans for ph in s["phases"])
        hits = sum(ph["table_hits"] for s in self.spans for ph in s["phases"])
        out["catalog.memo_hit_ratio"] = hits / calls if calls else 0.0
        out["exec.slot_busy_ratio"] = (
            m["exec.task_run_s"] / (sink_wall * cores) if sink_wall else 0.0
        )
        out["pipeline.lake_size_mb"] = (
            sum(self.lake_sizes) / len(self.lake_sizes) / MB if self.lake_sizes else 0.0
        )
        out["trace.pass_s"] = median(passes)
        # Share of the query ops' wall time their build + sink phases
        # cover (build_s + eager_s + sink_s over op wall).
        query_spans = [s for s in self.spans
                       if any(ph["phase"] == "sink" for ph in s["phases"])]
        op_wall = sum(s["t1"] - s["t0"] for s in query_spans)
        phase_wall = sum(ph["t1"] - ph["t0"] for s in query_spans for ph in s["phases"])
        out["trace.accounted_ratio"] = phase_wall / op_wall if op_wall else 0.0
        return out
