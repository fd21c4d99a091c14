"""The benchmark's own tests: smoke runs of every workload at sf0.001 and
the job counter past ``spark.ui.retainedJobs``.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from tracing import JobIds, self_costs, Span  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_benchmark_json_names_every_workload():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke(workload):
    untraced = _run("--workload", workload, "--seed", "7", "--seconds", "1",
                    "--trace", "0", "--smoke")
    assert untraced.returncode == 0, untraced.stderr[-3000:]
    traced = _run("--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", "1", "--smoke")
    assert traced.returncode == 0, traced.stderr[-3000:]
    for proc, key in ((untraced, "end_to_end"), (traced, "per_layer")):
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["failed"] == 0 and out["correct"], proc.stdout
        assert out["attempted"] >= len(WORKLOADS[workload])
        assert {k: v["unit"] for k, v in out["metrics"].items()} == {
            m["name"]: m["unit"] for m in SPEC[key]
        }
        for v in out["metrics"].values():
            assert isinstance(v["value"], (int, float))

    path = os.path.join(ROOT, ".perfbench", "results",
                        f"{workload}-seed7-trace1.json")
    with open(path) as fh:
        result = json.load(fh)
    assert result["failed_frac"] == 0
    spans = [Span(**s) for s in result["spans"]]
    costs = self_costs(spans)
    for tp in result["traced_passes"]:
        first, end = tp["spans"]
        selfs = [costs[i][0] for i in range(first, end)]
        assert selfs and min(selfs) >= 0
        assert sum(selfs) <= tp["wall_s"]
    assert any(s.name == "queries.build" for s in spans)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "relational", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_job_count_survives_retained_jobs_cap():
    """Count a step's jobs after more than ``spark.ui.retainedJobs`` jobs
    have run: the id delta stays exact while the status tracker's job
    list is capped."""
    from data_pipeline_package_for_python_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test")
    try:
        retained = int(spark.conf.get("spark.ui.retainedJobs", "1000"))
        rdd = spark.range(1, numPartitions=1)._jdf.rdd()
        for _ in range(retained + 5):
            rdd.count()
        ids = JobIds(spark)
        tracker = spark.sparkContext.statusTracker()
        assert len(tracker.getJobIdsForGroup(None)) <= retained
        j0, s0 = ids.jobs(), ids.stages()
        for _ in range(3):
            rdd.count()
        assert ids.jobs() - j0 == 3
        assert ids.stages() - s0 == 3
        assert ids.stage_totals(s0, ids.stages())["sched.tasks"] == 3
    finally:
        spark.stop()
