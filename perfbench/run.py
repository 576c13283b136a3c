"""The repository benchmark: one closed-loop client, seeded workloads.

    python3 perfbench/run.py --cpus 4 --workload dag_refresh --seed 1 --seconds 5 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` inside ``.perfbench_work/`` (deleted at the end) in a child
process, starts one Spark driver on ``local[N]`` (``N`` = ``--cpus``,
never above ``nproc``, exported as ``SPARK_GRAFT_CPUS``; the DAG thread
pool gets ``N`` threads), sets the workload up once, runs one first op,
then runs ops back to back until they have taken ``--seconds`` (at
least two, ending on a whole op cycle). Each op's output is checked; a failed op or check makes the run
exit 1. Every process the run starts is stopped before it exits.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` prints its per-layer metrics (spans around each call into
the engine, written to ``.perfbench_out/``). The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_TIMED_OPS = 2
# every end-to-end metric is printed; BENCHMARK.json names those the
# benchmark is judged on (the wall-time op metrics move with the shared
# host's load from run to run, their CPU-time counterparts much less)
E2E_UNITS = {"setup_s": "s", "first_op_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "rows_per_s": "rows/s", "first_op_cpu_s": "s", "op_cpu_p50_s": "s",
             "op_cpu_tail_s": "s", "rows_per_cpu_s": "rows/cpu_s", "ops_failed_ratio": "ratio",
             "peak_rss_mb": "MB"}
# staged inputs per run: a closed loop cannot run more ops than this
MAX_OPS = {"dag_refresh": 6, "dedup_ingest": 12}


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least ten samples above it. Below 20 samples that percentile would
    fall under the median, so the maximum (p100) is reported instead."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def hwm_mb(pid: int | str) -> float:
    """Peak resident memory (VmHWM) of a process, in MiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


# JVM threads whose CPU is the runtime's, not the program's: the JIT
# compilers (they recompile each query's generated classes) and the GC
JVM_RUNTIME_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM ")


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by this process and by
    the JVM's program threads (task threads, schedulers, RPC), without
    ``JVM_RUNTIME_THREADS``. Steal time, when the shared host runs
    another tenant on this machine's cores, is in wall time, not here;
    JIT and GC time follow when the compiler and collector happen to
    run, so they are left out too."""
    ticks = 0
    for task in Path(f"/proc/{jvm_pid}/task").iterdir():
        try:
            stat = (task / "stat").read_text()
        except OSError:  # the thread exited
            continue
        name, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
        if not name.startswith(JVM_RUNTIME_THREADS):
            f = rest.split()
            ticks += int(f[11]) + int(f[12])
    return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


def generate_inputs(wl) -> tuple[object, float]:
    """Run the workload's input generator (an ``inputs`` function) in a
    child process, so its memory never counts in this process's peak
    RSS: ``inputs.py`` takes the pickled call on stdin and writes the
    pickled inputs to stdout."""
    fn, args = wl.input_job()
    t0 = time.perf_counter()
    out = subprocess.run([sys.executable, str(HERE / "inputs.py")],
                         input=pickle.dumps((fn, args)), stdout=subprocess.PIPE, check=True)
    return pickle.loads(out.stdout), time.perf_counter() - t0


def adopt_orphans() -> None:
    """Become the subreaper of every process this run starts
    (``PR_SET_CHILD_SUBREAPER``): a grandchild whose parent exits first,
    such as a Spark Python worker after the JVM, is re-parented here
    instead of to init, so ``stop_children`` still finds it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                stat = (p / "stat").read_text()
            except OSError:
                continue
            if stat.rsplit(")", 1)[1].split()[1] == me:
                kids.append(int(p.name))
    return kids


def stop_children(grace_s: float = 10.0) -> None:
    """Terminate every child process still there (SIGKILL after
    ``grace_s``) and reap each one, adopted orphans included."""
    deadline = time.monotonic() + grace_s
    while kids := _children():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break


class JobCounter:
    """Spark jobs and tasks per op from ``SparkContext.statusTracker()``:
    each op runs under its own job group; the engine's DAG scheduler
    threads tag theirs with the project's invocation id."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()
        self.seen: set[int] = set()

    def begin(self, op: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op}", f"perfbench op {op}")

    def end(self, op: int, extra_groups) -> tuple[int, int]:
        # job events reach the status store through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs: set[int] = set()
        for g in [f"perfbench-op-{op}", *extra_groups]:
            jobs.update(self.st.getJobIdsForGroup(g))
        jobs -= self.seen
        self.seen |= jobs
        tasks = 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = self.st.getStageInfo(s)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks


def start_spark(work: Path, cpus: int):
    from dbt_foundation_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        warehouse_dir=str(work / "warehouse"),
        extra_conf={
            # a fixed-size heap: peak RSS then tracks what the program
            # touches, not when the collector chose to grow the heap
            "spark.driver.memory": "1g",
            "spark.local.dir": str(tmp),
            "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def load_workload(name: str):
    if name == "dag_refresh":
        from dag_refresh import DagRefresh
        return DagRefresh
    if name == "dedup_ingest":
        from dedup_ingest import DedupIngest
        return DedupIngest
    raise SystemExit(f"unknown workload {name!r}; see BENCHMARK.json")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4,
                    help="Spark local[N] and DAG threads; capped at nproc")
    args = ap.parse_args(argv)

    # a SIGTERM unwinds through the finally below, which stops every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "dbt_foundation_spark" / "__init__.py").is_file():
        print(f"perfbench: no dbt_foundation_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from spans import Tracer, median_or_zero

    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, min(args.cpus, nproc))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Spark's scratch (SPARK_LOCAL_DIRS wins over spark.local.dir) and
    # every temp file stay inside the run's work directory
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    tracer = Tracer(bool(args.trace))
    wl = load_workload(args.workload)(args.seed, work, MAX_OPS[args.workload], cpus, tracer)

    errors: list[str] = []
    lat: list[float] = []
    cpu_lat: list[float] = []
    rows = 0
    failed = attempted = 0
    spark = None
    try:
        inp, gen_s = generate_inputs(wl)
        props = wl.load(inp)
        from inputs import digest

        props["input_sha256"] = digest(work / "inputs")

        t0 = time.perf_counter()
        spark = start_spark(work, cpus)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        spark.range(1000).selectExpr("sum(id)").collect()  # warm-up
        session_s = time.perf_counter() - t0
        jobs = JobCounter(spark)

        t0 = time.perf_counter()
        wl.setup(spark)
        build_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + build_s
        # the harness's checks (DuckDB, pandas) run in this process from
        # here on: its peak so far is the engine driver's
        py_rss = hwm_mb("self")
        errors += [f"setup: {e}" for e in wl.check(-1)]

        def run_op(i: int) -> tuple[float, int, float] | None:
            """One op, timed (wall and CPU seconds); then its checks
            (untimed). None if it failed."""
            nonlocal failed, attempted
            attempted += 1
            # trace mode alternates traced and untraced ops so the run
            # measures its own tracing overhead; maintenance ops are
            # always traced and never compared
            upkeep = wl.upkeep(i)
            tracer.enabled = bool(args.trace) and (i % 2 == 0 or upkeep)
            tracer.op = i
            jobs.begin(i)
            c0 = cpu_s(jvm_pid)
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    n = wl.op(i)
                dt = time.perf_counter() - t0
                cpu = cpu_s(jvm_pid) - c0
            except Exception as e:  # noqa: BLE001 - a failed op is counted, loop goes on
                failed += 1
                errors.append(f"op {i}: {type(e).__name__}: {str(e)[:300]}")
                traceback.print_exc(file=sys.stderr)
                return None
            bad = wl.check(i)
            if bad:
                failed += 1
                errors.extend(f"op {i}: {b}" for b in bad)
            if tracer.enabled:
                wl.record_layers(i)
                job_counts.append(jobs.end(i, wl.job_groups()))
            elif args.trace:
                jobs.end(i, wl.job_groups())
            if args.trace and not upkeep:
                (traced if tracer.enabled else untraced).append(dt)
            return dt, n, cpu

        job_counts: list[tuple[int, int]] = []
        traced: list[float] = []
        untraced: list[float] = []
        first = run_op(0)
        first_op_s, first_cpu_s = (first[0], first[2]) if first else (float("nan"),) * 2
        # per-layer figures describe the timed loop, not the first op
        job_counts.clear()
        traced.clear()
        untraced.clear()
        tracer.spans.clear()
        wl.layer.clear()
        # ops run back to back until they have taken --seconds, at least
        # MIN_TIMED_OPS of them, and on to a whole number of op cycles,
        # so every run times the same mix of ops (dedup_ingest: two
        # ingests, then one ingest with retract + compact)
        busy = 0.0
        i = 0
        while i + 1 < MAX_OPS[args.workload] and (
            busy < args.seconds or i < MIN_TIMED_OPS or i % wl.cycle
        ):
            i += 1
            res = run_op(i)
            if res is not None:
                lat.append(res[0])
                busy += res[0]
                rows += res[1]
                cpu_lat.append(res[2])
        rss = py_rss + hwm_mb(jvm_pid)
    finally:
        if spark is not None:
            stop_spark(spark)
        stop_children()
        if args.trace:
            tracer.write(ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-spans.jsonl")
        shutil.rmtree(work, ignore_errors=True)

    p50 = statistics.median(lat) if lat else float("nan")
    tail_v, tail_p, n = tail(lat) if lat else (float("nan"), 0.0, 0)
    cpu_busy = sum(cpu_lat)
    e2e = {
        "setup_s": setup_s,
        "first_op_s": first_op_s,
        "op_p50_s": p50,
        "op_tail_s": tail_v,
        "rows_per_s": rows / busy if busy else 0.0,
        "first_op_cpu_s": first_cpu_s,
        "op_cpu_p50_s": statistics.median(cpu_lat) if cpu_lat else float("nan"),
        "op_cpu_tail_s": tail(cpu_lat)[0] if cpu_lat else float("nan"),
        "rows_per_cpu_s": rows / cpu_busy if cpu_busy else 0.0,
        "ops_failed_ratio": failed / attempted,
        "peak_rss_mb": rss,
    }
    units = E2E_UNITS | {m["name"]: m["unit"] for m in spec["per_layer"]}
    print(f"workload {args.workload} seed {args.seed}: local[{cpus}] of {nproc} cpus, "
          f"one closed-loop client, {attempted} ops ({n} timed), {failed} failed")
    print("inputs " + json.dumps(props, sort_keys=True))
    for k, v in e2e.items():
        print(f"  {k:34s} {v:14.6f} {units[k]}")
    print(f"  op_tail_s is p{tail_p:.1f} of {n} timed ops; set-up: inputs {gen_s:.3f} s "
          f"+ session {session_s:.3f} s + build {build_s:.3f} s; python {py_rss:.0f} MB of peak rss")
    print("  timed op latencies (s): " + " ".join(f"{x:.3f}" for x in lat))
    print("  timed op cpu (s): " + " ".join(f"{x:.3f}" for x in cpu_lat))
    for e in errors:
        print("ERROR " + e)

    if args.trace:
        layer = wl.layer_metrics()
        layer["spark.jobs_per_op"] = median_or_zero(j for j, _ in job_counts)
        layer["spark.tasks_per_op"] = median_or_zero(t for _, t in job_counts)
        layer["bench.op_self_s"] = median_or_zero(tracer.self_time("op").values())
        layer["trace.overhead_s"] = median_or_zero(traced) - median_or_zero(untraced)
        unlisted = sorted(set(layer) - set(units))
        if unlisted:
            raise SystemExit(f"layer metrics missing from BENCHMARK.json: {unlisted}")
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for k, v in metrics.items():
            print(f"  {k:34s} {v['value']:14.6f} {v['unit']}")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
