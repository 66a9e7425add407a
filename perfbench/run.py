"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

Workloads: kg_build, corpus_dedup. ``--trace 1`` runs the per-layer
census instead of the timed passes. ``--smoke`` shrinks the inputs to
sf 0.001 and times one pass (the benchmark's own test uses it).

Human-readable figures go to standard output; the last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. The measurement runs in a child process
(bench.py) in its own process group, so that the Spark JVM and the
Python workers it starts can all be stopped and waited for here. Every
file the run writes lives under ``.perfbench_work/`` in the repository
root; the run's own directory there is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import procstat

WORKLOADS = ("kg_build", "corpus_dedup")
#: hard limit on one run, start to exit
TIME_LIMIT_S = 170
HERE = os.path.dirname(os.path.abspath(__file__))


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        fields = procstat._stat_fields(int(name)) if name.isdigit() else None
        # state, ppid, pgrp; a zombie no longer runs
        if fields and int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """TERM, then KILL, every process left in the child's group, and
    wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not group_alive(pgid):
                return
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "raptor_spark", "__init__.py")):
        print("perfbench: run from the repository root (no raptor_spark/ "
              "package in %s)" % root, file=sys.stderr)
        return 2
    work = os.path.join(
        root, ".perfbench_work",
        "%s-seed%d-trace%d-%d" % (args.workload, args.seed, args.trace,
                                   os.getpid()),
    )
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "bench.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ] + (["--smoke"] if args.smoke else [])
    child = subprocess.Popen(cmd, cwd=root, start_new_session=True)
    try:
        rc = child.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s" % TIME_LIMIT_S, file=sys.stderr)
        rc = None
    finally:
        stop_group(child.pid)
        if child.poll() is None:
            child.kill()
        child.wait()
    try:
        with open(result_path) as fh:
            result = json.load(fh)
    except (OSError, ValueError):
        result = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        print("perfbench: no result (exit code %s)" % rc, file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
