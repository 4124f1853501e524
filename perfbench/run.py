"""End-to-end benchmark: the medallion pipeline, the query registry and
the Delta log engine on ``local[<cpus>]``.

Usage, from the repository root::

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics (``metrics.END_TO_END``);
``--trace 1`` runs the same work with job groups, the Spark event log
and layer spans on, and prints the per-layer metrics
(``metrics.PER_LAYER``). Before the result line it prints one
``{"report": ...}`` line with the workload's own named figures
(full_build_s, query_tail_s, commit_p50_s, ...), the host probes
(cpus, bracketed steal, CPU calibration) and, traced, the per-step Spark
task metrics and layer spans. The last line is the result:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes goes under ``.bench_work/`` in the checkout
and is removed at the end. A traced run reports its own ``total_s`` as
``trace.total_s``; its tracing overhead is that minus the median
``total_s`` of the untraced runs of the same code.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

import metrics
import workloads
from tracing import TASK_FIELDS, Tracer, fold_event_log

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
# setup_s takes the median of three input generations, so one slow
# write does not move it; the one-time warm step is timed once
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
JVM_OPTS = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
# a heap committed whole with a fixed young generation: G1 otherwise
# grows the heap and resizes eden as GC timing dictates, and the peak
# RSS of identical runs swung by a sixth; with these it holds within 2%
HEAP_OPTS = f"-Xms{DRIVER_MEMORY} -Xmn512m"


def _environment(cpus: int) -> None:
    """Spark's Python workers import the engine, so they need the repo
    on PYTHONPATH; the JVM inherits this environment at launch."""
    paths = [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # 2 GB is ample for these inputs (see HEAP_OPTS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # spark-submit's launcher JVM: no /tmp/hsperfdata either
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS
    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in ("spark-local", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    sys.path[:0] = [str(ROOT), str(HERE)]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def _calibrate() -> float:
    """Seconds for a fixed pure-Python loop (median of 3): a drift in it
    between runs is host speed, not the program."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _spark_layer(folded: dict[str, dict[str, float]]) -> tuple[dict, dict]:
    """Totals over the timed ops (set-up and checks apart), and the
    per-step breakdown for the report."""
    totals = {f"spark.{f}": sum(rec[f] for op, rec in folded.items() if op) for f in metrics.SPARK_FIELDS}
    steps = {op or "(outside ops)": {f: round(rec[f], 4) for f in ("jobs",) + TASK_FIELDS} for op, rec in folded.items()}
    return totals, steps


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = len(os.sched_getaffinity(0))
    _environment(cpus)
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        return _run(args, cpus, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cpus: int, run_dir: Path) -> int:
    prepare, warm, run = workloads.WORKLOADS[args.workload]

    import __spark_entry__  # noqa: F401  registers every plans module
    from medallion_delta_lake_spark.session import get_spark

    steal0, total0 = _cpu_ticks()
    calib_before = _calibrate()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temp files in the checkout; no /tmp/hsperfdata
        "spark.driver.extraJavaOptions": f"{JVM_OPTS} {HEAP_OPTS}",
    }
    event_dir = run_dir / "eventlog"
    if args.trace:
        event_dir.mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_dir),
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        prep_times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            prepared = prepare(spark, run_dir, args.seed, args.seconds)
            prep_times.append(time.perf_counter() - t)

        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            tracer.wrap_modules()
        try:
            t = time.perf_counter()
            warm(spark, tracer, prepared)
            warm_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(prep_times) + warm_s
            t = time.perf_counter()
            out = run(spark, tracer, run_dir, args.seed, prepared)
            wall_s = time.perf_counter() - t
        finally:
            tracer.unwrap_modules()
        py_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        jvm_rss_mb = _jvm_peak_rss_mb(spark)
    finally:
        _stop(spark)
    calib_after = _calibrate()
    steal1, total1 = _cpu_ticks()

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "host_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "calibration_s": [calib_before, calib_after],
        "setup_repeats_s": prep_times,
        "session_start_s": session_s,
        "warm_s": warm_s,
        "measured_wall_s": wall_s,
        "peak_rss_mb": {"python": py_rss_mb, "jvm": jvm_rss_mb},
        "error_rate": out.failed / max(1, out.attempted),
        "failures": out.failures,
        **out.report,
    }
    report["units"] = {
        k: metrics.unit_of(k)
        for k, v in report.items()
        if isinstance(v, (int, float)) and not isinstance(v, bool) and k not in ("seed", "seconds", "trace")
    }
    if args.trace:
        layer = dict(out.layer)
        layer["session.start_s"] = session_s
        for name, (calls, secs, jobs, files) in tracer.spans.items():
            layer_name, _, attr = name.partition(".")
            if layer_name == "upsert":
                layer[f"upsert.{attr}_s"] = secs
                layer["upsert.jobs"] = layer.get("upsert.jobs", 0) + jobs
            elif layer_name in ("readers", "writers"):
                layer[f"{name}_s"] = secs
            if layer_name == "writers":
                layer["writers.files_written"] = layer.get("writers.files_written", 0) + files
        totals, steps = _spark_layer(fold_event_log(str(event_dir)))
        layer.update(totals)
        layer["trace.total_s"] = out.e2e["total_s"]
        report["spark_steps"] = steps
        report["spans"] = {k: {"calls": v[0], "s": v[1], "jobs": v[2], "files": v[3]} for k, v in tracer.spans.items()}
        report["other_layers"] = {k: v for k, v in layer.items() if k not in metrics.PER_LAYER}
        result_metrics = metrics.render(layer, metrics.PER_LAYER)
    else:
        values = dict(out.e2e, setup_s=setup_s, peak_rss_mb=py_rss_mb + jvm_rss_mb)
        result_metrics = metrics.render(values, metrics.END_TO_END)
    print(json.dumps({"report": report}, default=str))
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": result_metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
