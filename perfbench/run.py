"""Benchmark entry point: run one workload against the engine and print
its metrics as one JSON line.

    python3 perfbench/run.py --workload invoice_inbox --seed 1 --seconds 10 --trace 0

Run it from the repository root. The run generates its inputs from
``--seed`` under ``perfbench/.work/``, times the Spark set-up, runs
one cold pass and then warm passes for ``--seconds`` seconds (at least
one), checks every pass's outputs outside the timed region, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics
of BENCHMARK.json; ``--trace 1`` enables Spark's event log and reports
the per-layer metrics instead. The exit status is non-zero when any
check fails.

A pass is timed in CPU seconds of the engine's processes (the driver,
the JVM and its Python workers), not in wall time: on a shared 4-core
host the wall time of one pass rose 40-60% when another run went on
beside it, while its CPU time stayed about the same (README.md).
Set-up is timed in wall seconds; the traced run reports the passes'
wall times.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")

DRIVER_MEMORY = "3g"

# the process tree is quiet once it uses less than QUIET_CORES over a
# SETTLE_WINDOW_S window; an idle Spark session stays below it
SETTLE_WINDOW_S = 0.5
QUIET_CORES = 0.1
SETTLE_LIMIT_S = 10.0


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def configure_env(work: str, event_log_dir: str | None = None) -> None:
    """Environment for the engine's session factory and Spark's launcher.
    Must run before the JVM starts."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if BENCH_DIR not in sys.path:
        sys.path.insert(0, BENCH_DIR)
    # Python workers (mapInPandas, applyInPandasWithState) import the
    # engine package, so it must be on their path too.
    pypath = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pypath if pypath else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    # no hsperfdata file under /tmp: the JVM keeps its counters in memory
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args) + " pyspark-shell"


def start_session():
    """JVM + the engine's ``get_spark()`` + one trivial job, timed."""
    from smartbots_etl_facturas_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def tree_cpu_s(root: int) -> float:
    """User and system CPU seconds of ``root`` and all its descendants
    (the JVM and the Python workers), including children they reaped.
    Time a hypervisor steals from virtual CPUs is not in it."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process has exited
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def settled_cpu_s(root: int, start: float) -> float:
    """CPU seconds of ``root``'s tree since the reading ``start``, counted
    until the tree goes quiet. The JIT compilations and collections that
    a pass sets off go on after it returns; they belong to that pass, not
    to whichever comes next."""
    deadline = time.perf_counter() + SETTLE_LIMIT_S
    last = tree_cpu_s(root)
    while time.perf_counter() < deadline:
        time.sleep(SETTLE_WINDOW_S)
        now = tree_cpu_s(root)
        if now - last < SETTLE_WINDOW_S * QUIET_CORES:
            return now - start
        last = now
    return last - start


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def load_workload(name: str, work: str, seed: int, smoke: bool):
    if name == "invoice_inbox":
        from invoice_inbox import InvoiceInbox

        return InvoiceInbox(work, seed, smoke)
    if name == "analytics":
        from analytics import Analytics

        return Analytics(work, seed, smoke)
    raise SystemExit(f"unknown workload {name!r}")


def untraced_record(args) -> str:
    smoke = "-smoke" if args.smoke else ""
    return os.path.join(WORK_ROOT, f"untraced-{args.workload}{smoke}.json")


def untraced_pass_cpu_s(args) -> float:
    """Median ``pass_cpu_s`` of earlier untraced runs of this workload in this
    checkout; runs one untraced pass set first when there is none."""
    path = untraced_record(args)
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
            + (["--smoke"] if args.smoke else []),
            capture_output=True, text=True, timeout=170, check=False,
        )
    with open(path) as fh:
        return statistics.median(json.load(fh))


def record_untraced(args, pass_cpu_s: float) -> None:
    path = untraced_record(args)
    values = []
    if os.path.exists(path):
        with open(path) as fh:
            values = json.load(fh)
    values = (values + [pass_cpu_s])[-10:]
    with open(path, "w") as fh:
        json.dump(values, fh)


def run(args) -> dict:
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    configure_env(work, event_dir)
    try:
        return measure(args, work, event_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str, event_dir: str | None) -> dict:
    from spans import Tracer

    workload = load_workload(args.workload, work, args.seed, args.smoke)
    workload.prepare()

    spark, setup_s = start_session()
    settled_cpu_s(os.getpid(), 0.0)  # the set-up's compilations stay out of the cold pass
    tracer = Tracer(spark, enabled=bool(args.trace))
    passes = []

    def timed_pass(i: int):
        cpu = tree_cpu_s(os.getpid())
        with tracer.span(f"pass{i}", "pass") as sp:
            outputs.append(workload.run_pass(spark, tracer, i))
        sp.attrs["cpu_s"] = settled_cpu_s(os.getpid(), cpu)
        passes.append(sp)

    outputs: list[dict] = []
    try:
        timed_pass(0)
        # warm passes for --seconds: at least one, then no pass that would
        # end past the budget at the last pass's pace
        warm_start = time.perf_counter()
        while len(passes) < 2 or (
                len(passes) < workload.max_passes
                and time.perf_counter() - warm_start + passes[-1].wall <= args.seconds):
            timed_pass(len(passes))
        with tracer.span("check", "check"):
            attempted, problems = workload.check(spark, tracer, outputs)
        if args.trace:
            with tracer.span("layer_counts", "check"):
                counts = workload.layer_counts(tracer, passes, outputs)
        jvm_pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        stop_session(spark)

    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    warm = passes[1:]
    pass_cpu_s = statistics.median(p.attrs["cpu_s"] for p in warm)
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": len(problems),
    }
    span_stats = {}
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_pass_cpu_s": (passes[0].attrs["cpu_s"], "s"),
            "pass_cpu_s": (pass_cpu_s, "s"),
        }
        if not problems:
            record_untraced(args, pass_cpu_s)
    else:
        from layers import layer_metrics

        metrics, span_stats = layer_metrics(workload, tracer, warm, event_dir, setup_s,
                                            counts, cpu_count())
        metrics["engine.cold_pass_wall_s"] = (passes[0].wall, "s")
        metrics["engine.pass_wall_s"] = (statistics.median(p.wall for p in warm), "s")
        metrics["engine.peak_rss_mb"] = (peak_rss, "MB")
        metrics["tracing.overhead_ratio"] = (pass_cpu_s / untraced_pass_cpu_s(args), "ratio")
    tracer.write(os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}-{args.trace}.json"),
                 {"setup_s": setup_s, "span_stats": span_stats,
                  "metrics": {k: v for k, (v, _) in metrics.items()}})
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not args.workload:
        ap.error("--workload is required")
    os.makedirs(WORK_ROOT, exist_ok=True)
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
