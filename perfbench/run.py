"""spark-graft benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload {ref_sql,llm_heavy,e1_etl} \
        --seed N --seconds S --trace {0,1}

Run from the repository root (any directory works; the engine is found
next to this directory). One run:

1. set-up (``setup_s``, from process start): imports, JVM and Spark
   session at ``local[<cores>]``, the workload's inputs, one pass whose
   outputs are checked (DuckDB twins, row and schema checks, the E1
   expected stats), and unchecked passes of the query ops through the
   timed path's no-op sink;
2. a timed window of whole passes over the workload's op list, in an
   order permuted by ``--seed`` each pass, until ``--seconds`` have
   passed; the JVM heap is collected and the yardstick read before each
   pass, untimed;
3. with ``--trace 1``, the per-layer figures of the window's ops.

``setup_s`` and ``pass_s`` are scaled by the run's yardstick readings
(``yardstick.py``) to one host speed; the wall-clock times are printed
beside them. The report lines on stdout give every end-to-end figure
with its unit, including those that only some workloads have; the last
line is the JSON result. Every pass's time is kept in the report and in
``.perfbench_work/runs.jsonl``, so warm-up and drift within a run stay
visible. Spans of traced runs go to ``.perfbench_work/trace-*.json``.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """``time.perf_counter()`` reading at the moment this process started
    (from its start time in /proc, counted since boot), else now.

    All run timings use the monotonic clock: on a shared guest, one pass
    once read 31 s on the wall clock while its ops, timed on the
    monotonic clock, summed to 6.5 s."""
    now = time.perf_counter()
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        since_start = (time.clock_gettime(time.CLOCK_BOOTTIME)
                       - ticks / os.sysconf("SC_CLK_TCK"))
        return now - since_start
    except (OSError, ValueError, IndexError):
        return now


T_START = _process_start()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MAX_RUN_S = 150  # stop adding passes past this, well inside 180 s
MB = 2**20

sys.path.insert(0, HERE)

import yardstick  # noqa: E402
from stats import error_rate, median, tail_percentile  # noqa: E402


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree(root_pid: int) -> set[int]:
    """``root_pid`` and all its descendants."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class PythonMemorySampler(threading.Thread):
    """Peak PSS of the driver's process tree without the JVM, that is of
    the Python driver and its workers, sampled every ``interval``
    seconds. PSS counts pages that forked workers share with their
    parent once."""

    def __init__(self, interval: float = 1.0):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            pids = [p for p in _tree(os.getpid()) if not _is_jvm(p)]
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in pids))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


class JvmMemory:
    """Bytes in use in the JVM's memory pools (heap and non-heap), as the
    JVM's management beans report them."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.pools = list(jvm.java.lang.management.ManagementFactory
                          .getMemoryPoolMXBeans())
        self.system = jvm.java.lang.System

    def collect(self) -> None:
        """Collect Python's garbage first, whose py4j proxies keep JVM
        objects alive, then the JVM heap."""
        gc.collect()
        self.system.gc()

    def reset_peaks(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_bytes(self) -> int:
        return sum(p.getPeakUsage().getUsed() for p in self.pools)


def run_op(op, tracer, collect: bool):
    """Execute one op; returns its result (a pandas frame for a collected
    query, a stats dict for run_etl/audit, else None)."""
    if op.kind != "query":
        with tracer.phase(op.kind):
            return op.fn()
    with tracer.phase("build"):
        df = op.fn()
    with tracer.phase("sink"):
        tracer.plan(df)
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
    return None


def start_spark(cores: int, work: str):
    from cr_data_pipeline_project_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    spark = get_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_confs={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def check_pass(wl, tracer, rng) -> tuple[int, list[str]]:
    """The first, cold pass: every op once, its output checked."""
    wl.before_pass()
    problems = []
    ops = wl.order(rng)
    for op in ops:
        try:
            found = op.check(run_op(op, tracer, collect=op.kind == "query"))
        except Exception as exc:  # an op that raises counts as failed
            found = [f"raised {type(exc).__name__}: {exc}"]
        if found:
            problems.append(f"{op.name}: {'; '.join(found)}"[:500])
    return len(ops), problems


def warm_up(wl, tracer, rng) -> tuple[int, list[str]]:
    """``wl.warm_passes`` passes of the query ops through the timed
    path's no-op sink, so the JIT has compiled that path before the
    first timed pass."""
    ops = [op for _ in range(wl.warm_passes) for op in wl.order(rng)
           if op.kind == "query"]
    problems = []
    for op in ops:
        try:
            run_op(op, tracer, collect=False)
        except Exception as exc:
            problems.append(f"{op.name}: raised {type(exc).__name__}: {exc}"[:500])
    return len(ops), problems


def timed_window(wl, tracer, rng, seconds: float, spark, jvm: JvmMemory) -> dict:
    """Whole passes until ``seconds`` have passed. Each pass starts from
    a collected heap, and the JVM pools' peak is read after it. The
    yardstick is read before each pass and after the last one."""
    passes, op_times, query_times, problems = [], {}, [], []
    attempted, jvm_peaks, sticks = 0, [], []
    mem = PythonMemorySampler()
    tracer.recording = True
    mem.start()
    t_window = time.perf_counter()
    while True:
        wl.before_pass()
        order = wl.order(rng)
        os.sync()  # write back the restored lake before, not during, the pass
        jvm.collect()
        sticks.append(yardstick.measure(spark))
        jvm.reset_peaks()
        t_pass = time.perf_counter()
        for op in order:
            attempted += 1
            with tracer.op(op.name, len(passes)):
                t0 = time.perf_counter()
                try:
                    run_op(op, tracer, collect=False)
                except Exception as exc:
                    problems.append(f"{op.name}: raised {type(exc).__name__}: {exc}"[:500])
                    continue
                dt = time.perf_counter() - t0
            op_times.setdefault(op.name, []).append(dt)
            if op.kind == "query":
                query_times.append(dt)
        passes.append(time.perf_counter() - t_pass)
        jvm_peaks.append(jvm.peak_bytes())
        wl.after_pass(tracer)
        now = time.perf_counter()
        if now - t_window >= seconds or now - T_START > MAX_RUN_S:
            break
    tracer.recording = False
    mem.stop()
    jvm.collect()
    sticks.append(yardstick.measure(spark))
    return dict(passes=passes, sticks=sticks, op_times=op_times,
                query_times=query_times, attempted=attempted, problems=problems,
                peak_mem=median(jvm_peaks) + mem.peak)


def report_lines(args, cores, n_ops, setup, setup_wall, sticks, win, attempted,
                 problems, end_to_end):
    out = [f"perfbench workload={args.workload} seed={args.seed} "
           f"trace={args.trace} cores={cores} ops/pass={n_ops}"]
    for name, (value, unit) in end_to_end.items():
        out.append(f"  {name:<14} {value:12.4f} {unit}")
    q = win["query_times"]
    out.append(f"  {'query_p50_s':<14} {median(q):12.4f} s  (n={len(q)})")
    tail = tail_percentile(q)
    out.append(
        f"  {'query_tail_s':<14} {tail[1]:12.4f} s  (p{tail[0]}, {tail[2]} "
        f"samples beyond, n={len(q)})" if tail else
        f"  {'query_tail_s':<14} {'-':>12}    (n={len(q)} query ops:"
        " too few for a percentile above the median)"
    )
    for name, op in (("etl_run_s", "run_etl"), ("audit_s", "audit")):
        if op in win["op_times"]:
            out.append(f"  {name:<14} {median(win['op_times'][op]):12.4f} s")
    out.append(f"  {'peak_mem_mb':<14} {win['peak_mem'] / MB:12.4f} MB")
    out.append(f"  {'error_rate':<14} {error_rate(attempted, len(problems)):12.4f}"
               f" ratio ({len(problems)} of {attempted} ops)")
    out.append("  setup split    session {:.2f} s, inputs {:.2f} s, checked pass "
               "{:.2f} s, warm-up pass {:.2f} s".format(*setup))
    out.append("  passes_s       " + " ".join(f"{p:.3f}" for p in win["scaled"]))
    out.append("  wall clock     set-up {:.3f} s, passes {} s".format(
        setup_wall, " ".join(f"{p:.3f}" for p in win["passes"])))
    out.append("  yardstick      " + " ".join(f"{median(ts) * 1000:.1f}" for ts in sticks)
               + f" ms (scale to {yardstick.REFERENCE_S * 1000:.0f} ms)")
    return out + [f"  FAILED {p}" for p in problems]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cr_data_pipeline_project_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from tracing import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_spark(cores, work)
    try:
        t_session = time.perf_counter()
        tracer = Tracer() if args.trace else NullTracer()
        tracer.install(spark)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        t_inputs = time.perf_counter()
        rng = random.Random(args.seed)
        checked, problems = check_pass(wl, tracer, rng)
        t_checked = time.perf_counter()
        warmed, warm_problems = warm_up(wl, tracer, rng)
        setup_s = time.perf_counter() - T_START
        first_stick = yardstick.measure(spark)
        win = timed_window(wl, tracer, rng, args.seconds, spark, JvmMemory(spark))
        sticks = [first_stick] + win["sticks"]
        scale = yardstick.REFERENCE_S / median([t for ts in sticks for t in ts])
        win["scaled"] = [p * scale for p in win["passes"]]
        if args.trace:
            tracer.collect()
            layers = tracer.layer_metrics(win["scaled"], cores)
            with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"passes": win["passes"], "spans": tracer.spans}, f)
    finally:
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    attempted = checked + warmed + win["attempted"]
    problems += warm_problems + win["problems"]
    setup = (t_session - T_START, t_inputs - t_session, t_checked - t_inputs,
             T_START + setup_s - t_checked)
    end_to_end = {
        "setup_s": (setup_s * scale, "s"),
        "pass_s": (median(win["scaled"]), "s"),
    }
    report = report_lines(args, cores, len(wl.ops), setup, setup_s, sticks, win,
                          attempted, problems, end_to_end)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
        report += [f"  {k:<32} {v:14.4f} {_unit(k)}" for k, v in layers.items()]
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "setup_wall_s": setup_s, "setup_split_s": setup,
            "passes_s": win["scaled"], "passes_wall_s": win["passes"],
            "yardstick_s": sticks,
            "op_times_s": win["op_times"],
            "peak_mem_mb": win["peak_mem"] / MB,
            "attempted": attempted, "failed": len(problems),
            "metrics": {k: m["value"] for k, m in metrics.items()},
        }) + "\n")
    print("\n".join(report))
    print(json.dumps({
        "correct": not problems, "attempted": attempted,
        "failed": len(problems), "metrics": metrics,
    }))
    return 0


def _unit(metric: str) -> str:
    suffix = metric.rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MB", "ratio": "ratio"}.get(suffix, "count")


if __name__ == "__main__":
    sys.exit(main())
