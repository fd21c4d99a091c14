"""Pins for tools/profile.py, the per-layer registry profiler: every
layer of a fresh build is recorded, jobs an iterative builder launches
count as build jobs, and a failing query is recorded, not raised."""

import dataclasses
import importlib.util
import os
import subprocess
import sys

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def _load_profiler():
    # Not under the name "profile": that is the standard library's.
    spec = importlib.util.spec_from_file_location(
        "profile_tool", os.path.join(_TOOLS, "profile.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


PROF = _load_profiler()

LAYERS = ("build_s", "build_jobs", "plan_s", "jobs", "stages",
          "noop_s", "pandas_s")


def test_join_star_q5_records_every_layer(spark, sf_dir):
    rec = PROF.profile_query(spark, "join_star_q5", sf_dir, runs=1)
    assert "error" not in rec
    assert len(rec["runs"]) == 1
    m = rec["median"]
    for k in LAYERS:
        assert m[k] >= 0, (k, m[k])
    # A difference of two wall times: a few rows cost about as much to
    # ship as to discard, so its sign is noise at this scale.
    assert m["transfer_s"] == m["pandas_s"] - m["noop_s"]
    assert m["jobs"] >= 1 and m["stages"] >= 1
    totals = m["stage_totals"]
    assert all(v >= 0 for v in totals.values()), totals
    assert totals["sched.tasks"] >= 1
    assert totals["exec.shuffle_write_mb"] > 0


def test_iterative_builder_jobs_count_as_build_jobs(spark, sf_dir):
    rec = PROF.profile_query(spark, "graph_kcore", sf_dir, runs=1)
    assert rec["median"]["build_jobs"] >= 1


def test_raising_query_is_recorded_not_raised(spark, sf_dir, monkeypatch):
    from data_pipeline_package_for_python_spark.queries import QUERIES

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    monkeypatch.setitem(
        QUERIES, "agg_q1", dataclasses.replace(QUERIES["agg_q1"], spark_fn=boom)
    )
    assert PROF.profile_query(spark, "agg_q1", sf_dir, runs=1) == {
        "error": "RuntimeError: boom"
    }


def test_unknown_name_is_rejected(capsys):
    assert PROF.main(["no_such_query"]) == 1
    assert "no_such_query" in capsys.readouterr().err


def test_tools_dir_on_path_keeps_stdlib_profile():
    """tools/profile.py shadows the standard library's ``profile`` when
    tools/ is on sys.path; cProfile (imported by pyspark) must still
    get the real one."""
    code = (
        f"import sys; sys.path.insert(0, {_TOOLS!r}); "
        "import cProfile, profile; "
        "assert hasattr(profile, 'Profile'), profile.__file__; "
        "cProfile.run('1 + 1')"
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   capture_output=True, timeout=120)
