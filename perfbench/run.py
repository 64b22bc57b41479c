"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 12 --trace 0

Run from the repository root.  The session is built by the package's own
``session.get_spark`` on ``local[<half the cores>]`` with a 2 GB driver heap,
so the driver JVM's compiler and GC threads, the Python driver and the
Python workers have cores of their own; every
file the run writes (raw inputs, tables, checkpoints, warehouse, Spark
scratch, event log) lives under ``.perfbench_work/`` and is deleted when the
run ends.  ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones from a traced session followed by a plain one (see
``spans.py``).  The last line of stdout is the result JSON; exit code 2
means the package is missing and nothing was measured.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()
T0_EPOCH_MS = time.time() * 1000

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "weather_data_pipeline_spark"
DRIVER_MEM = "2g"
CORES = max(1, len(os.sched_getaffinity(0)) // 2)

END_TO_END = {"setup_s": "s", "run_s": "s"}


def configure(work: str, trace: bool) -> None:
    """Environment read by the package, PySpark and the JVM it launches."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(k, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # No JVM performance-data file in the system temp directory.
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # Python workers import the package (mapInPandas kernels).
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def warm_up(wl) -> None:
    """The first (cold) pass, then untimed passes: at least one, and more
    until the workload's ``warmup_s`` seconds have passed."""
    wl.run_pass(timed=False)
    start = time.perf_counter()
    wl.run_pass(timed=False)
    while time.perf_counter() - start < wl.warmup_s:
        wl.run_pass(timed=False)


def timed_passes(wl, seconds: float) -> float:
    """Closed loop: passes until ``seconds`` have elapsed and at least the
    workload's minimum number of passes has run; returns ``run_s``."""
    wl.reset_timing()
    start = time.perf_counter()
    while wl.timed_passes < wl.min_passes or time.perf_counter() - start < seconds:
        wl.run_pass(timed=True)
    return wl.run_s()


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run(args, work: str) -> dict:
    from weather_data_pipeline_spark import session

    import spans
    from workloads import WORKLOADS

    spark = session.get_spark("perfbench")
    tracer = spans.Tracer(spark, enabled=args.trace)
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
    wl.prepare()
    warm_up(wl)
    setup_s = time.perf_counter() - T0
    tracer.setup_window = (T0_EPOCH_MS, time.time() * 1000)
    tracer.timed = True
    steal0 = spans.steal_seconds()
    run_s = timed_passes(wl, args.seconds)
    steal = spans.steal_seconds() - steal0
    passes = wl.timed_passes
    medians = {op: round(m, 3) for op, m in wl.medians().items()}
    print(
        f"perfbench: {args.workload} seed={args.seed}: {wl.passes - passes} "
        f"warm-up and {passes} timed passes; median s per call {medians}; "
        f"host steal {steal:.2f} s during timing",
        file=sys.stderr,
    )
    wl.finish()
    if not args.trace:
        values = {"setup_s": setup_s, "run_s": run_s}
        units = END_TO_END
    else:
        jvm = spark.sparkContext._jvm
        rss = spans.peak_rss_mb(jvm.ProcessHandle.current().pid())
        rss += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        spark.stop()  # completes the event log
        values = spans.fold(
            spans.read_event_log(os.path.join(work, "eventlog")), tracer, passes
        )
        # Plain phase in the same, already warm JVM: the same timed passes
        # with no event log and no spans.
        jvm.System.clearProperty("spark.eventLog.enabled")
        spark = session.get_spark("perfbench-plain")
        wl.bind(spark, spans.Tracer(spark, enabled=False))
        plain_s = timed_passes(wl, args.seconds)
        values.update({
            "host.steal_s": steal,
            "host.peak_rss_mb": rss,
            "trace.run_s": run_s,
            "trace.plain_run_s": plain_s,
            "trace.overhead_s": run_s - plain_s,
        })
        units = {name: unit for name, unit, _ in spans.per_layer_metrics()}
    shutdown(spark)
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["etl", "operator_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        configure(work, bool(args.trace))
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
