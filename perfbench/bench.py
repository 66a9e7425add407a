"""Benchmark process: one Spark session, one workload, one result file.

Started by run.py, which owns the command line contract, the time
limit and process clean-up. Usage (from the repository root):

    python3 perfbench/bench.py --workload kg_build --seed 1 --seconds 12 \
        --trace 0 --work <scratch dir> --result <file>

Untraced runs time whole passes of the workload and report end-to-end
metrics; traced runs (--trace 1) run census.py's per-layer breakdown.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

import procstat  # noqa: E402

#: scale factor of each workload's inputs (TESTDATA.md's sf scale)
SCALE = {"kg_build": 0.02, "corpus_dedup": 0.03}
SMOKE_SCALE = 0.001
SHUFFLE_PARTITIONS = 16
#: the driver's heap, fixed and pre-touched: always resident, so
#: peak_rss_mb leaves it out
HEAP_MB = 3 * 1024
DRIVER_MEMORY = "%dm" % HEAP_MB
#: the program's set-up runs this many times per run; setup_s takes the
#: median
SETUP_REPEATS = 3
#: timed passes per run, at least; more while --seconds lasts
MIN_PASSES = 2
#: warm-up is called steady when its last two passes agree within this
#: share (reported, not enforced: see warm_up)
WARM_STEADY = 0.10

E2E_UNITS = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def make_session(work: str):
    """The one session configuration of the benchmark: every core of
    the host, fixed shuffle partitions, ParallelGC, no UI, and every
    scratch file of the JVM and the Python workers under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # inherited by the JVM and, through it, by the Python workers
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM, spark-submit's launcher too: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    ncpu = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master("local[%d]" % ncpu)
        .appName("raptor-spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed, pre-touched heap with fixed generation sizes: the
            # heap's resident size is then the constant HEAP_MB, which
            # peak_rss_mb subtracts, so that it reports the memory outside
            # the heap (Python workers, JVM off-heap, Arrow buffers)
            "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -XX:+AlwaysPreTouch "
            "-Xms%s "
            "-Djava.io.tmpdir=%s -Dderby.system.home=%s"
            % (DRIVER_MEMORY, tmp, work),
        )
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_pass(wl, root_pid: int) -> dict:
    """Run one pass and check its output. Times, tree CPU and tree peak
    memory are taken around the pass only; the check is outside."""
    procstat.reset_peak_rss(root_pid)
    cpu0 = procstat.tree_cpu(root_pid)
    m0 = procstat.machine_cpu()
    load = procstat.loadavg()
    t0 = time.perf_counter()
    error = None
    try:
        out = wl.run_pass()
    except Exception:  # a failing pass is counted, not fatal
        out, error = None, traceback.format_exc(limit=3)
    wall = time.perf_counter() - t0
    rec = {
        "wall_s": wall,
        "cpu_s": procstat.cpu_delta(cpu0, procstat.tree_cpu(root_pid)),
        "peak_rss_mb": procstat.peak_rss_mb(root_pid) - HEAP_MB,
        "loadavg": load,
        "kernel_share": procstat.kernel_share(m0, procstat.machine_cpu()),
    }
    if error is None:
        error = wl.check(out)
    rec["error"] = error
    return rec


def set_up(wl, work: str, seed: int, repeats: int, log) -> float:
    """Write the seeded inputs and compute the expected outputs once
    (the benchmark's own work, not timed into setup_s), then run the
    program's set-up ``repeats`` times, each into a fresh directory.
    Returns the median time of the program's set-up; the last one stays
    in place for the passes."""
    t0 = time.perf_counter()
    wl.prepare(os.path.join(work, "data"), seed)
    log("inputs and oracles %.2f s" % (time.perf_counter() - t0))
    times = []
    for i in range(repeats):
        t0 = time.perf_counter()
        wl.program_setup(os.path.join(work, "setup%d" % i))
        times.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(
                os.path.join(work, "setup%d" % (i - 1)), ignore_errors=True
            )
    return statistics.median(times)


def warm_up(wl, root_pid: int, seconds: float, log) -> tuple:
    """The workload's one-off check, then passes until ``seconds`` have
    passed. A fixed warm-up time, not a stop-when-steady
    rule: pass-to-pass noise makes such a rule stop early at random,
    while the JIT keeps speeding passes up for tens of seconds. Returns
    the number of checks and passes run and how many of them failed."""
    t0 = time.perf_counter()
    once = wl.once_check()
    if once is not None:
        log("check FAILED: " + once)
    n, failed, walls = 1, int(once is not None), []
    while time.perf_counter() - t0 < seconds:
        rec = timed_pass(wl, root_pid)
        n += 1
        failed += rec["error"] is not None
        walls.append(rec["wall_s"])
    steady = len(walls) >= 2 and (
        abs(walls[-1] - walls[-2]) <= WARM_STEADY * walls[-2]
    )
    log("warm-up passes: %s s (%s)" % (
        " ".join("%.3f" % w for w in walls),
        "steady" if steady else "not steady"))
    return n, failed


def summarize(passes, rows: int, setup_s: float, log) -> dict:
    ok = [p for p in passes if p["error"] is None]
    metrics = {}
    for key, unit in (("wall_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")):
        vals = [p[key] for p in ok]
        metrics[key] = statistics.median(vals)
        log("%-12s median %.4f  max %.4f  n=%d  (%s)" % (
            key, metrics[key], max(vals), len(vals), unit))
    # printed, not reported: its run-to-run spread exceeds any bound
    # the result line may carry (perfbench/README.md)
    del metrics["cpu_s"]
    metrics["rows_per_s"] = rows / metrics["wall_s"]
    log("%-12s %.1f  (rows=%d / median wall_s)" % (
        "rows_per_s", metrics["rows_per_s"], rows))
    metrics["setup_s"] = setup_s
    log("%-12s %.4f  (s)" % ("setup_s", setup_s))
    log("fail_rate    %d/%d" % (len(passes) - len(ok), len(passes)))
    for i, p in enumerate(passes):
        log("pass %d: wall %.3f s  cpu %.2f s  rss %.0f MB  loadavg %.2f  "
            "kernel share %.3f%s" % (
                i + 1, p["wall_s"], p["cpu_s"], p["peak_rss_mb"],
                p["loadavg"], p["kernel_share"],
                "" if p["error"] is None else "  FAILED: " + p["error"]))
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}


def measure(spark, args, session_s: float, log):
    """Untraced run: set-up, warm-up, then timed passes for
    ``args.seconds`` (at least MIN_PASSES). A smoke run sets up once,
    skips the warm-up passes and times a single pass. Returns the result
    object, or None when no pass succeeded."""
    from workloads import WORKLOADS

    root_pid = os.getpid()
    smoke = args.smoke
    sf = SMOKE_SCALE if smoke else SCALE[args.workload]
    wl = WORKLOADS[args.workload](spark, sf)
    repeats = 1 if smoke else SETUP_REPEATS
    program_s = set_up(wl, args.work, args.seed, repeats, log)
    t1 = time.perf_counter()
    n_warm, warm_failed = warm_up(
        wl, root_pid, 0 if smoke else wl.warm_s, log
    )
    log("session %.2f s, program set-up %.2f s (median of %d), "
        "warm-up %.2f s (not in setup_s)"
        % (session_s, program_s, repeats, time.perf_counter() - t1))
    passes = []
    t_end = time.perf_counter() + (0 if smoke else args.seconds)
    min_passes = 1 if smoke else MIN_PASSES
    while len(passes) < min_passes or time.perf_counter() < t_end:
        passes.append(timed_pass(wl, root_pid))
    failed = warm_failed + sum(p["error"] is not None for p in passes)
    if not any(p["error"] is None for p in passes):
        log("no pass succeeded")
        return None
    return {
        "correct": failed == 0,
        "attempted": n_warm + len(passes),
        "failed": failed,
        "metrics": summarize(passes, wl.rows, session_s + program_s, log),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    def log(msg):
        print("[%s] %s" % (args.workload, msg), flush=True)

    t0 = time.perf_counter()
    spark = make_session(args.work)
    session_s = time.perf_counter() - t0
    try:
        if args.trace:
            import census

            scale = {w: SMOKE_SCALE for w in SCALE} if args.smoke else SCALE
            result = census.run(spark, args, scale, SMOKE_SCALE, log)
        else:
            result = measure(spark, args, session_s, log)
    finally:
        spark.stop()
    if result is None:
        return 1
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
