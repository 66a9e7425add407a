"""Smoke test of the benchmark: every workload at sf 0.001, one pass,
with its output checks, plus one traced run; each result line must
carry exactly the metrics BENCHMARK.json names. Also checks that the
traced run's stage and task counts leave out reused shuffle stages.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def run_bench(*args):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--seed", "3",
         "--seconds", "1", "--smoke", *args],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_result(res, metric_specs):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in metric_specs}
    for m in metric_specs:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_smoke(workload):
    res = run_bench("--workload", workload, "--trace", "0")
    check_result(res, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_smoke():
    res = run_bench("--workload", SPEC["workloads"][0]["name"], "--trace", "1")
    check_result(res, SPEC["per_layer"])


def test_refuses_without_program(tmp_path):
    """Outside a checkout of the program the benchmark fails fast and
    prints no result."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "kg_build", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_job_counter_skips_reused_shuffle():
    """The second count reuses the first one's shuffle output: both
    jobs list the map stage in their graph, but it runs once."""
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    from pyspark.sql import SparkSession

    from census import JobCounter

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        pairs = sc.parallelize(range(100), 2).map(lambda x: (x % 3, 1))
        summed = pairs.reduceByKey(lambda a, b: a + b, 2)
        jobs = JobCounter(spark)
        _, counts = jobs.run(lambda: (summed.count(), summed.count()))
        st = sc.statusTracker()
        graph = sum(
            len(st.getJobInfo(j).stageIds)
            for j in st.getJobIdsForGroup("perfbench-%d" % jobs.n)
        )
    finally:
        spark.stop()
    assert (counts["jobs"], graph) == (2, 4)
    assert counts["stages"] == 3 < graph
    assert (counts["tasks"], counts["failed_tasks"]) == (6, 0)
